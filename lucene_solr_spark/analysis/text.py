"""Analyzer-chain kernels: HTMLStrip -> StandardTokenizer -> LowerCase -> Stop.

Semantics follow the reference chain (see
lucene/analysis/common/src/java/org/apache/lucene/analysis/standard/StandardAnalyzer.java:84-89):
CharFilter (HTML strip) -> UAX#29 word-break tokenizer with
maxTokenLength=255 (StandardAnalyzer.java:39) -> lowercase
(core/LowerCaseFilter.java:44) -> 33-word English stop filter
(core/StopAnalyzer.java:42-47) preserving position gaps
(util/FilteringTokenFilter.java:52-58: each skipped token still consumes a
position increment, and over-long tokens skipped by the tokenizer do too,
StandardTokenizer.java:157-162).

Everything here is batch-level pandas/numpy (Arrow-friendly): these same
functions run inside Spark pandas UDFs *and* inside the pure-pandas oracle,
so engine-vs-oracle token streams agree by construction; fidelity to the
JFlex grammar is covered by the unicode edge-case corpus in tests.
"""

from __future__ import annotations

import html as _html
import os as _os
import re

import numpy as np
import pandas as pd

# Bench-attribution toggle (BENCH.md A/B protocol): skip the joiner-run
# pre-gate scan. NEVER set in production — tokens with ".." runs would
# diverge from the reference regex path. Read at import so Spark local
# workers inherit it from the driver environment.
_SKIP_JOINER_RECHECK = (
    _os.environ.get("SPARK_GRAFT_SKIP_JOINER_RECHECK") == "1"
)

# StopAnalyzer.ENGLISH_STOP_WORDS_SET (core/StopAnalyzer.java:42-47)
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

# CJKAnalyzer's default set, transcribed verbatim from
# analysis/cjk/stopwords.txt (via stopdata.py): the classic English set
# plus the possessive fragments s/t and 'www' — but WITHOUT 'an', which
# the reference file omits
from .stopdata import REFERENCE_STOPWORDS as _REF_STOPS  # noqa: E402

CJK_STOP_WORDS = _REF_STOPS["cjk"]

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.DEFAULT_MAX_TOKEN_LENGTH

# bump when analyzer semantics change in a way stop-set hashes don't
# capture (chain order, tokenizer rules, stemmer fixes): cached gate
# indexes key on analysis_fingerprint() so they rebuild automatically
ANALYSIS_VERSION = "r5-cjk-exact-4"  # 4: JFlex-exact CJK/width/bigram


def analysis_fingerprint() -> str:
    """Digest of everything that determines index-time token output:
    every registered stop set + the late-stop membership + a manual
    version tag. plans/gate.py mixes this into its index-cache keys so a
    stale index built under older analyzer semantics is never reused."""
    import hashlib

    from .chain import LATE_STOP_ANALYZERS
    from .light import LIGHT_STOPWORDS
    from .snowball import SNOWBALL_STOPWORDS

    h = hashlib.md5(ANALYSIS_VERSION.encode())
    for name, stops in sorted(
        [("english", ENGLISH_STOP_WORDS), ("cjk", CJK_STOP_WORDS)]
        + sorted(SNOWBALL_STOPWORDS.items())
        + sorted(LIGHT_STOPWORDS.items())
    ):
        h.update(name.encode())
        h.update("\x00".join(sorted(stops)).encode())
    h.update(",".join(sorted(LATE_STOP_ANALYZERS)).encode())
    # rule DATA that changes token output without touching any stop set
    from . import graph as _graph
    from .hunspell import DEMO_AFF, DEMO_DIC
    from .thai import THAI_DICT

    h.update("\x00".join(_graph.DEFAULT_SYNONYM_LINES).encode())
    h.update("\x00".join(_graph.SYNONYM_GRAPH_LINES).encode())
    h.update("\x00".join(sorted(_graph.GERMAN_COMPOUND_DICT)).encode())
    h.update("\x00".join(sorted(THAI_DICT)).encode())
    h.update(DEMO_AFF)
    h.update(DEMO_DIC)
    return h.hexdigest()[:10]

# UAX#29 word tokenization: the full word-break grammar of the JFlex
# tokenizer (standard/StandardTokenizerImpl.jflex:148-162), transcribed
# as the POSIX-longest regex below (_TOKEN_RE) — byte-identical to the
# compiled reference StandardAnalyzer on a 12k-line hard-unicode fuzz
# corpus (Hebrew quotes, full mid classes, Nl/No, SEA scripts,
# underscore shapes; tools/fuzz_chain.py harness). The Arrow fast path
# reproduces it exactly via delimiter-split + trim + suspect resplit
# (docs with chars Arrow cannot split faithfully divert wholesale
# through _NONARROW_PAT). Remaining divergence without the `regex`
# module (not this container): marks break tokens, approximate classes.
_L = r"[^\W\d_]"  # \w letters (no digits, no underscore)
# Full UAX#29 word-break classes (r5, closing the documented tail; every
# rule below was probed against the compiled reference StandardAnalyzer
# via the tools/fuzz_chain.py harness):
#   MidLetter / MidNum / MidNumLet: the FULL Unicode sets, not just the
#     web subset {. , : ' ’} — a·b and a‧b join, 12;34 joins, ab;cd splits
#   Hebrew_Letter: WB7a (trailing ' glues after a Hebrew letter:
#     "ששש'" keeps the quote), WB7b/c (א"ב joins, א"b does not)
#   U+05F3 geresh is ALetter (ש׳ש and standalone ׳׳ are tokens)
#   Numeric = Nd only and "letters" = L | Nl: No chars (①) are NOT
#     token chars at all
#   Complex_Context (Thai/Lao/Myanmar/Khmer letters): one token per
#     script run, no joiner participation ("กกก" one token, "ก๑ก"
#     three — the Thai DIGIT is Nd Numeric, not Complex_Context)
#   ExtendNumLet '_': glues inside runs but an underscore-only shape is
#     NOT a token ("__" emits nothing, not even a position)
_MIDLETTER = "\u003a\u00b7\u0387\u05f4\u2027\ufe13\ufe55\uff1a"
_MIDNUM = ("\u002c\u003b\u037e\u0589\u060c\u060d\u066c\u07f8"
           "\u2044\ufe10\ufe14\ufe50\ufe54\uff0c\uff1b")
_MIDNUMLET_SQ = "\u002e\u0027\u2018\u2019\u2024\ufe52\uff07\uff0e"
_HEBREW_LETTER = "\u05d0-\u05ea\ufb1d-\ufb28\ufb2a-\ufb4f"
_SEA_SCRIPTS = r"\p{Thai}\p{Lao}\p{Myanmar}\p{Khmer}"
# WB:Katakana (UCD WordBreak.txt, this vintage): kana repeat marks
# 3031-3035, spacing voice marks 309B-309C, the main blocks, phonetic
# extensions, squared-katakana symbols, halfwidth forms FF66-FF9D.
# FF9E/FF9F halfwidth voice marks are WB:Extend (they GLUE to any
# preceding token char — probed vs the compiled StandardAnalyzer:
# 'aﾞb' and '1ﾞ2' are single tokens), so they live in _M, not here.
_KATAKANA_CLASS = ("\u3031-\u3035\u309b\u309c\u30a0-\u30fa"
                   "\u30fc-\u30ff\u31f0-\u31ff\u32d0-\u32fe"
                   "\u3300-\u3357\uff66-\uff9d")
# the single-token ideograph/hiragana classes ({HanEx}/{HiraganaEx}
# rules): Han ideographs + the Ideographic Nl numerals (〇, Hangzhou)
# that WB:ALetter excludes, and script-Hiragana letters incl. the
# iteration marks ゝゞ (NOT 309B/309C, which are WB:Katakana)
_CJK_SINGLE_CLASS = (
    "\u2e80-\u2eff\u3007\u3021-\u3029\u3038-\u303a"
    "\u3041-\u3096\u309d-\u309f\u3400-\u4dbf\u4e00-\u9fff"
    "\uf900-\ufaff"
)

try:
    import regex as _regex  # third-party; supports \p{..}, var-len lookbehind

    _HAS_REGEX = True
    _M = r"[\p{M}\p{Cf}\uff9e\uff9f]"
    # token chars: Nd (including SEA-script digits like ๑, which are
    # Numeric to JFlex) + letters (L minus SEA scripts) + Nl + '_' +
    # geresh
    # ALetter excludes SEA (Complex_Context), Ideographic/Hiragana
    # singles, Katakana (its own chunk class below), and the WB:Extend
    # halfwidth voice marks (\p{L} members that must never START a
    # token — they only glue via _M)
    _NOT_ALETTER = (rf"{_SEA_SCRIPTS}"
                    rf"{_CJK_SINGLE_CLASS}{_KATAKANA_CLASS}"
                    "\uff9e\uff9f")
    _W = (rf"(?:\p{{Nd}}|(?![{_NOT_ALETTER}])"
          rf"[\p{{L}}\p{{Nl}}_׳])")
    _LETTER_CTX = (rf"(?:(?![{_NOT_ALETTER}])"
                   rf"[\p{{L}}\p{{Nl}}׳])")
    _SEA_CHAR = rf"(?:(?!\p{{Nd}})[{_SEA_SCRIPTS}])"
    # Direct transcription of the WORD rule of
    # StandardTokenizerImpl.jflex:148-162 (the Ex suffix = trailing
    # [Format Extend]* marks, WB4):
    #   word = ENL* segment+ (ENL+ segment+)* ENL*
    #   segment = HebrewLetter (SQ | DQ HebrewLetter)      (WB7a/b/c)
    #           | Numeric ((ENL*|MidNum|MidNumLet|SQ) Numeric)*
    #           | AHLetter ((ENL*|MidLetter|MidNumLet|SQ) AHLetter)*
    # Segment structure (not pairwise lookbehinds) is what makes the
    # quote cases come out right: "ג'1_" is ONE word (the HL-quote
    # segment chains into the numeric segment), "׳׳'א'" ends at א (the
    # א is consumed by the WB6 join, so no segment can start there and
    # the final quote drops), "2ששש'" keeps its quote (ששש splits as
    # letters + a fresh HL'-segment).
    _AHx = rf"(?:{_LETTER_CTX}{_M}*)"
    _HLx = rf"(?:[{_HEBREW_LETTER}]{_M}*)"
    _NDx = rf"(?:\p{{Nd}}{_M}*)"
    _ENLx = rf"(?:_{_M}*)"
    _MidLx = rf"(?:[{_MIDLETTER}{_MIDNUMLET_SQ}]{_M}*)"
    _MidNx = rf"(?:[{_MIDNUM}{_MIDNUMLET_SQ}]{_M}*)"
    # JFlex is a DFA (leftmost-LONGEST match); Python's default regex
    # semantics are greedy-first, which mis-segments the quote cases
    # ("2ששש'" would stop before the WB7a quote, "ⅻב'ש"שa" would miss
    # the HLQ(ב') re-segmentation). The regex module's POSIX flag gives
    # true leftmost-longest matching — exactly the DFA behavior.
    _SEG = (rf"(?:{_HLx}(?:'{_M}*|\"{_M}*{_HLx})"
            rf"|{_NDx}(?:(?:{_ENLx}*|{_MidNx}){_NDx})*"
            rf"|{_AHx}(?:(?:{_ENLx}*|{_MidLx}){_AHx})*)")
    # the WORD rule's chunk alternation (jflex:152-162): a Katakana run
    # (WB13, chainable over ENL runs) OR a segment+ sequence — katakana
    # never mixes into a letter segment (ALetter excludes it), so
    # 'カ_ナ' is one word via ENL chaining while 'カxナ' is three tokens
    _KTx = rf"(?:[{_KATAKANA_CLASS}]{_M}*)"
    _KCHUNK = rf"(?:{_KTx}(?:{_ENLx}*{_KTx})*)"
    _CHUNK = rf"(?:{_KCHUNK}|{_SEG}+)"
    _TOKEN_PATTERN = (
        rf"{_SEA_CHAR}+"                                   # SEA run
        rf"|{_ENLx}*{_CHUNK}(?:{_ENLx}+{_CHUNK})*{_ENLx}*"
        rf"|[{_CJK_SINGLE_CLASS}]{_M}*"       # HanEx / HiraganaEx
    )
    # POSIX longest-match is ~300x slower than greedy-first on long
    # letter runs, and the grammar is only AMBIGUOUS around the
    # HebrewLetter-quote segments (everything else concatenates
    # deterministically) — so the POSIX engine runs only on strings
    # containing Hebrew letters; everything else takes the fast greedy
    # compile of the SAME pattern (fuzz-verified identical on
    # Hebrew-free input).
    _TOKEN_RE = _regex.compile(_TOKEN_PATTERN, _regex.POSIX)
    _TOKEN_RE_FAST = _regex.compile(_TOKEN_PATTERN)
    _HAS_HEBREW_RE = _regex.compile(rf"[{_HEBREW_LETTER}]")
except ImportError:  # pragma: no cover - regex is in the container
    _HAS_REGEX = False
    _TOKEN_RE = re.compile(
        rf"\w+(?:(?:(?<={_L})[.:'’](?={_L})|(?<=\d)[.,'’](?=\d))\w+)*",
        re.UNICODE,
    )

_UNDERSCORE_ONLY_RE = re.compile(r"^_+$")


def _token_pattern_for(s: str):
    """POSIX (DFA-longest) engine only when Hebrew letters are present —
    the one ambiguity source; the greedy compile is identical (and much
    faster) everywhere else."""
    if _HAS_REGEX and not _HAS_HEBREW_RE.search(s):
        return _TOKEN_RE_FAST
    return _TOKEN_RE


def _findall_tokens(s: str) -> list[str]:
    """Token findall minus underscore-only shapes (ExtendNumLet has
    nothing to extend: JFlex emits no token and no position for them)."""
    return [t for t in _token_pattern_for(s).findall(s)
            if not _UNDERSCORE_ONLY_RE.match(t)]

# CJK handling per the JFlex grammar (StandardTokenizerImpl.jflex:55-60,
# 135, 190-191): Han ideographs and Hiragana are emitted one token per
# character ({HanEx} IDEOGRAPHIC_TYPE / {HiraganaEx} HIRAGANA_TYPE), while
# Katakana chains into runs ({KatakanaEx}+, WB13 Katakana x Katakana) \u2014
# including the prolonged-sound mark U+30FC, phonetic extensions, and
# halfwidth forms. Marks/format chars glue to the preceding kana/ideograph
# (the Ex suffix). Divergence kept: ExtendNumLet ('_') does not chain
# katakana runs across it (WB13a/b), and U+30FB middle dot splits (it is
# not a \w char here; JFlex keeps it out of tokens too).
_CJK_CLASS = _CJK_SINGLE_CLASS + _KATAKANA_CLASS
# combining marks that appear glued after kana/ideographs (voiced-sound
# marks, variation selectors, generic combining block); the full \p{M}
# set needs the regex module
_CJK_MARKS = "\u3099\u309a\ufe00-\ufe0f\u0300-\u036f"
# ---------------------------------------------------------------------------
# HTML strip (charfilter/HTMLStripCharFilter.java semantics, subset)
# ---------------------------------------------------------------------------

_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(r"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[!/]?[a-zA-Z][^>]*>|<[!/]?>")


def html_strip_str(s: str) -> str:
    """Strip tags/script/style/comments, decode entities; text nodes verbatim."""
    s = _SCRIPT_RE.sub("", s)
    s = _STYLE_RE.sub("", s)
    s = _COMMENT_RE.sub("", s)
    s = _TAG_RE.sub("", s)
    return _html.unescape(s)


def html_strip_series(html_bytes: pd.Series) -> pd.Series:
    """Vectorized html(binary or str) -> extracted text."""
    if len(html_bytes) and isinstance(html_bytes.iloc[0], (bytes, bytearray)):
        s = html_bytes.map(lambda b: b.decode("utf-8", errors="replace"))
    else:
        s = html_bytes.astype(str)
    return s.map(html_strip_str)


# ---------------------------------------------------------------------------
# Tokenizer chain
# ---------------------------------------------------------------------------


# CJKAnalyzer chain (cjk/CJKAnalyzer.java:87-94): StandardTokenizer ->
# CJKWidthFilter -> LowerCase -> CJKBigramFilter(HAN|HIRAGANA|KATAKANA|
# HANGUL, outputUnigrams=false) -> Stop. The r5 rewrite runs the REAL
# pipeline: tokens come from the proven POSIX WORD grammar (with
# spans), each token is width-folded exactly like CJKWidthFilter
# (fullwidth ASCII, halfwidth kana, voice-mark combining), token TYPE
# follows the JFlex rule priority (a token whose whole text is Hangul+
# marks was matched by the earlier HangulEx+ rule -> HANGUL; likewise
# KatakanaEx+; Han/Hiragana singles; everything else is WORD/NUMERIC
# and passes through whole — so '국l' or 'zﾡk919' stay intact, exactly
# like the reference), and bigrams join chars across TEXT-ADJACENT CJK
# tokens only (the offset contiguity CJKBigramFilter sees: '中文'
# bigrams, '中 文' does not). Probed + fuzzed vs the compiled
# CJKAnalyzer (tools/fuzz_chain.py).
# Jamo, Compatibility Jamo, Jamo Extended-A/B, Syllables, halfwidth
# forms — the Hangul script members of the reference's HANGUL_TYPE
_HANGUL_CLASS = (
    "ᄀ-ᇿ㄰-㆏ꥠ-꥿가-퟿ﾠ-ￜ"
)

# CJKWidthFilter.KANA_NORM (cjk/CJKWidthFilter.java:47): FF65..FF9F
_KANA_NORM = [
    0x30FB, 0x30F2, 0x30A1, 0x30A3, 0x30A5, 0x30A7, 0x30A9, 0x30E3,
    0x30E5, 0x30E7, 0x30C3, 0x30FC, 0x30A2, 0x30A4, 0x30A6, 0x30A8,
    0x30AA, 0x30AB, 0x30AD, 0x30AF, 0x30B1, 0x30B3, 0x30B5, 0x30B7,
    0x30B9, 0x30BB, 0x30BD, 0x30BF, 0x30C1, 0x30C4, 0x30C6, 0x30C8,
    0x30CA, 0x30CB, 0x30CC, 0x30CD, 0x30CE, 0x30CF, 0x30D2, 0x30D5,
    0x30D8, 0x30DB, 0x30DE, 0x30DF, 0x30E0, 0x30E1, 0x30E2, 0x30E4,
    0x30E6, 0x30E8, 0x30E9, 0x30EA, 0x30EB, 0x30EC, 0x30ED, 0x30EF,
    0x30F3, 0x3099, 0x309A,
]
_KANA_COMBINE_VOICED = [
    78, 0, 0, 0, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1,
    0, 1, 0, 1, 0, 1, 0, 0, 1, 0, 1, 0, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0,
    1, 0, 0, 1, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 8, 8, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1,
]
_KANA_COMBINE_HALF_VOICED = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 0, 0,
    2, 0, 0, 2, 0, 0, 2, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
]


def cjk_width_fold(token: str) -> str:
    """CJKWidthFilter.incrementToken over one token's chars: fullwidth
    ASCII -> basic latin, halfwidth kana -> fullwidth, FF9E/FF9F voice
    marks combine into the preceding (already-folded) kana when a
    composed form exists, else map to combining U+3099/309A."""
    out: list[str] = []
    for ch in token:
        c = ord(ch)
        if 0xFF01 <= c <= 0xFF5E:
            out.append(chr(c - 0xFEE0))
        elif 0xFF65 <= c <= 0xFF9F:
            if c in (0xFF9E, 0xFF9F) and out:
                prev = ord(out[-1])
                if 0x30A6 <= prev <= 0x30FD:
                    diff = (_KANA_COMBINE_HALF_VOICED if c == 0xFF9F
                            else _KANA_COMBINE_VOICED)[prev - 0x30A6]
                    if diff:
                        out[-1] = chr(prev + diff)
                        continue
            out.append(chr(_KANA_NORM[c - 0xFF65]))
        else:
            out.append(ch)
    return "".join(out)


# token-type purity per the JFlex rule priority: HangulEx+ /
# KatakanaEx+ beat the general WORD rule only when they match the
# WHOLE token; HanEx/HiraganaEx singles come from their own grammar
# alternative (trailing marks/format/voice-mark chars glue per Ex)
if _HAS_REGEX:
    _TYPE_M = r"\p{M}\p{Cf}\uff9e\uff9f"
else:  # pragma: no cover - regex is in the container
    _TYPE_M = _CJK_MARKS + "\uff9e\uff9f"
_CJK_TYPED_RE = (_regex if _HAS_REGEX else re).compile(
    f"(?:[{_HANGUL_CLASS}](?:[{_HANGUL_CLASS}]|[{_TYPE_M}])*"
    f"|[{_KATAKANA_CLASS}](?:[{_KATAKANA_CLASS}]|[{_TYPE_M}])*"
    f"|[{_CJK_SINGLE_CLASS}][{_TYPE_M}]*)")


def _cjk_bigram_doc(s: str) -> list[str]:
    """One doc through tokenize -> width -> bigram (lowercase is done
    by the caller).  Tokens come straight from the JFlex-exact grammar;
    a token is CJK-typed when the HangulEx+/KatakanaEx+ whole-match or
    a HanEx/HiraganaEx single produced it — mixed words ('국l',
    'zﾡk919', 'カ_ナ') are WORD_TYPE and pass through intact, exactly
    like the reference.  CJK-typed tokens chain while TEXT-ADJACENT
    (the offset contiguity CJKBigramFilter requires: '中文' bigrams,
    '中 文' does not), and the chain's width-FOLDED chars emit
    overlapping bigrams (unigram when the chain is one char)."""
    out: list[str] = []
    chain: list[str] = []
    chain_end = -2

    def flush():
        nonlocal chain
        if chain:
            t = "".join(chain)
            if len(t) == 1:
                out.append(t)
            else:
                out.extend(t[i:i + 2] for i in range(len(t) - 1))
            chain = []

    for m in _token_pattern_for(s).finditer(s):
        tok = m.group(0)
        if _UNDERSCORE_ONLY_RE.match(tok):
            continue
        if _CJK_TYPED_RE.fullmatch(tok) is not None:
            if m.start() != chain_end:
                flush()
            chain.extend(cjk_width_fold(tok))
            chain_end = m.end()
        else:
            flush()
            chain_end = -2
            out.append(cjk_width_fold(tok))
    flush()
    return out


# Arrow fast path: the token charset of _TOKEN_RE re-expressed as a
# delimiter split + edge trim. Tokens are runs of [\w joiner]; a leading/
# trailing joiner is trimmed (matching the regex, which only keeps joiners
# *between* word chars). Tokens containing any SUSPECT shape — a joiner
# whose neighbors violate its UAX#29 class constraint, a >=2 joiner run,
# or a combining mark (outside Python \w) — re-split through the regex
# post-hoc (rare), so the fast path is byte-identical to the regex path
# (tested). RE2 (Arrow's engine) treats \w as ASCII; spell out the
# unicode word classes (letters, marks, numbers, underscore).
_ARROW_DELIM = r"[^\pL\pM\pN\p{Cf}_.,;:'’]+"
_ARROW_TRIM = ".,;:'’"
# interior contexts only (edge joiners are trimmed): colon next to
# digit/underscore, comma next to letter/underscore, dot/quote between
# mixed letter-digit or next to underscore, joiner runs, any mark or
# format char (WB4 gluing happens in the regex resplit)
_ARROW_SUSPECT = (
    r"[.,;:'’]{2}"
    r"|[\pN_]:[\pL\pN_]|[\pL\pN_]:[\pN_]"
    r"|[\pL_][,;][\pL\pN_]|[\pL\pN_][,;][\pL_]"
    r"|\pL[.'’][\pN_]|\pN[.'’][\pL_]|_[.'’][\pL\pN_]"
    r"|\pM|\p{Cf}"
    # Nl (Ⅻ) serves as a letter but NOT as a joiner's numeric context,
    # and No (①) is not a token char at all — both need the regex's
    # Nd/Nl-split classes (rare chars, cheap to divert)
    r"|\p{Nl}|\p{No}"
    # an underscore-only token (post-trim) is NOT a token to JFlex
    # (ExtendNumLet with nothing to extend); detect the shape both
    # doc-level (underscore touching a non-word char through optional
    # joiners) and token-level (anchored)
    r"|^_+$"
    r"|(?:^|[^\pL\pM\pN\p{Cf}_])[.,;:'’]*_"
    r"|_[.,;:'’]*(?:[^\pL\pM\pN\p{Cf}_]|$)"
)

# chars the Arrow fast path cannot tokenize faithfully — such docs route
# through the regex path wholesale (the same doc-level gate CJK uses):
# Hebrew (WB7a/b/c quote rules + geresh/gershayim), SEA scripts
# (Complex_Context run tokens), the rare mid-class chars, and \p{No}
# "digits" ((1), 1/2 — not token chars to JFlex but \pN to the old
# classes). Web corpora hit these rarely; the testdata corpus never.
_NONARROW_EXTRA = (
    "\u0590-\u05ff\ufb1d-\ufb4f"                    # Hebrew
    "\u0e00-\u0eff\u1000-\u109f\u1780-\u17ff"      # Thai Lao Myanmar Khmer
    "\u00b7\u0387\u2027\ufe13\ufe55\uff1a"          # MidLetter extras
    "\u037e\u0589\u060c\u060d\u066c\u07f8\u2044"   # MidNum extras
    "\ufe10\ufe14\ufe50\ufe54\uff0c\uff1b"
    "\u2018\u2024\ufe52\uff07\uff0e"                # MidNumLet extras
    "\uff9e\uff9f"       # halfwidth voice marks: WB:Extend, glue anywhere
)
_NONARROW_PAT = f"[{_CJK_CLASS}{_NONARROW_EXTRA}]|\\p{{No}}"


def _compile_gate(pat: str):
    """Compile a suspect-gate pattern for the Python-side scan.  The
    stdlib re fallback (regex module absent) cannot take \\p{No}; in
    that mode tokenization itself already runs the approximate rules,
    so the gate drops the No-class alternation rather than crash."""
    if _HAS_REGEX:
        return _regex.compile(pat)
    return re.compile(pat.replace("|\\p{No}", ""))


def _tokenize_arrow(texts: pd.Series, check_cjk: bool = True,
                    stopset: frozenset = ENGLISH_STOP_WORDS):
    """C++-side tokenize: lower+split+trim+filter without Python objects.

    Returns (doc_idx int64, terms (Categorical), pos int32, doc_lengths)
    or None if the batch needs the regex path (CJK present).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = (
        texts
        if isinstance(texts, pa.Array)
        else pa.Array.from_pandas(texts, type=pa.string())
    )
    low = pc.utf8_lower(arr)
    if check_cjk and pc.any(
        pc.match_substring_regex(low, _NONARROW_PAT)
    ).as_py():
        return None  # rare: CJK/Hebrew/SEA/No handling -> regex path
    lists = pc.split_pattern_regex(low, _ARROW_DELIM)
    parents = pc.list_parent_indices(lists).to_numpy(zero_copy_only=False)
    vals = pc.utf8_trim(pc.list_flatten(lists), _ARROW_TRIM)

    nonempty = pc.not_equal(vals, "")
    ne = nonempty.to_numpy(zero_copy_only=False)
    vals = vals.filter(nonempty)
    parents = parents[ne]
    n_docs = len(texts)

    # joiner fidelity: the delimiter split keeps any joiner between token
    # chars, while the reference regex enforces the UAX#29 per-class
    # neighbor constraints (see _TOKEN_RE). Rare tokens with a suspect
    # shape (_ARROW_SUSPECT) re-split through the regex here, so the
    # Arrow path is exactly the regex path. A doc-level pre-gate (one
    # scan of the batch, not of every token) keeps the common
    # no-suspect-shape batch at full speed.
    if _SKIP_JOINER_RECHECK or not pc.any(
        pc.match_substring_regex(low, _ARROW_SUSPECT)
    ).as_py():
        viol = np.zeros(0, dtype=bool)
    else:
        viol = pc.match_substring_regex(vals, _ARROW_SUSPECT).to_numpy(
            zero_copy_only=False
        )
    if viol.any():
        v_np = vals.to_numpy(zero_copy_only=False).astype(object)
        counts = np.ones(len(v_np), np.int64)
        repl: dict[int, list[str]] = {}
        for i in np.flatnonzero(viol):
            toks = _findall_tokens(v_np[i])
            counts[i] = len(toks)
            repl[i] = toks
        offs = np.cumsum(counts) - counts
        new_vals = np.empty(int(counts.sum()), dtype=object)
        keep = ~viol
        new_vals[offs[keep]] = v_np[keep]
        for i, toks in repl.items():
            new_vals[offs[i] : offs[i] + counts[i]] = toks
        parents = np.repeat(parents, counts)
        vals = pa.array(new_vals, type=pa.string())

    # positions: index in the pre-stop-filter token stream per doc
    n_tok = len(parents)
    if n_tok == 0:
        return (
            np.zeros(0, np.int64),
            pd.Categorical([]),
            np.zeros(0, np.int32),
            np.zeros(n_docs, np.int32),
        )
    new_doc = np.empty(n_tok, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = parents[1:] != parents[:-1]
    starts = np.flatnonzero(new_doc)
    run_lens = np.diff(np.append(starts, n_tok))
    pos = (np.arange(n_tok) - np.repeat(starts, run_lens)).astype(np.int32)

    keep_len = pc.less_equal(pc.utf8_length(vals), MAX_TOKEN_LENGTH)
    is_stop = pc.is_in(vals, value_set=pa.array(sorted(stopset)))
    emit_pa = pc.and_(keep_len, pc.invert(is_stop))
    emit = emit_pa.to_numpy(zero_copy_only=False)

    dict_arr = pc.dictionary_encode(vals.filter(emit_pa))
    if isinstance(dict_arr, pa.ChunkedArray):
        dict_arr = dict_arr.combine_chunks()
    terms = pd.Categorical.from_codes(
        dict_arr.indices.to_numpy(zero_copy_only=False),
        categories=dict_arr.dictionary.to_pandas(),
    )
    doc_idx = parents[emit]
    lengths = np.zeros(n_docs, dtype=np.int32)
    np.add.at(lengths, doc_idx, 1)
    return doc_idx, terms, pos[emit], lengths


def _tokenize_regex(texts: pd.Series,
                    stopset: frozenset = ENGLISH_STOP_WORDS) -> tuple:
    """Reference regex path: the grammar emits exact JFlex tokens
    (incl. Han/Hiragana singles and Katakana runs — no post-expansion
    since the r5 grammar carries the HanEx/HiraganaEx alternatives)."""
    texts = texts.map(str.lower)
    tok_lists = texts.map(_findall_tokens)
    return _emit_token_lists(tok_lists, len(texts), stopset)


def _tokenize_regex_cjk_bigram(texts: pd.Series,
                               stopset: frozenset = ENGLISH_STOP_WORDS):
    """Per-doc slow path for the cjk analyzers: the real CJKAnalyzer
    pipeline over the proven POSIX tokenization (_cjk_bigram_doc)."""
    texts = texts.map(str.lower)
    tok_lists = texts.map(_cjk_bigram_doc)
    return _emit_token_lists(tok_lists, len(texts), stopset)


def _emit_token_lists(tok_lists: pd.Series, n_docs: int, stopset) -> tuple:
    """Shared stop/length emit over per-doc raw token lists: over-long
    tokens and stopwords are dropped but still consume a position."""
    counts = tok_lists.map(len).to_numpy(dtype=np.int64)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    flat = [t for lst in tok_lists for t in lst]
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    pos = (np.arange(len(flat), dtype=np.int64) - offsets[doc_idx]).astype(np.int32)

    terms = pd.Series(flat, dtype="object")
    if len(terms):
        keep_len = terms.str.len().to_numpy() <= MAX_TOKEN_LENGTH
        emit = keep_len & ~terms.isin(stopset).to_numpy()
    else:
        emit = np.zeros(0, dtype=bool)
    doc_idx = doc_idx[emit]
    lengths = np.zeros(n_docs, dtype=np.int32)
    if len(doc_idx):
        np.add.at(lengths, doc_idx, 1)
    return doc_idx, terms.to_numpy()[emit], pos[emit], lengths


# ---------------------------------------------------------------------------
# UAX29URLEmailTokenizer subset
# (standard/UAX29URLEmailTokenizerImpl.jflex:84-148): URLs with an
# explicit http/https/ftp/file scheme (RFC-3986 char classes, greedy —
# like the JFlex grammar, trailing path punctuation stays in the token)
# and emails (RFC-5321 atom local part @ strict dotted domain ending in
# an alphabetic TLD) are emitted as SINGLE tokens; everything between
# runs through the standard UAX#29 word rules. Documented subset: no
# scheme-less domain URLs ({HTTPurl} without {HTTPscheme}), no bracketed
# IP / IPv6 email hosts, no quoted-string local parts.
# ---------------------------------------------------------------------------
_URI_CHARS = r"[a-z0-9\-._~:/?#\[\]@!$&'()*+,;=%]"
_EMAIL_ATOM = r"[a-z0-9!#$%&'*+\-/=?^_`{|}~]+"
_URLEMAIL_RE = re.compile(
    rf"(?:https?|ftp|file)://{_URI_CHARS}+"
    rf"|{_EMAIL_ATOM}(?:\.{_EMAIL_ATOM})*"
    r"@(?:[a-z0-9](?:[a-z0-9\-]*[a-z0-9])?\.)+[a-z]{2,}"
)
# doc-level pre-gate: a doc without these markers cannot contain a
# URL/email token and stays on the Arrow fast path
_URLEMAIL_MARK = "://|@"
# capturing variant for the bulk path's single-scan split
_URLEMAIL_SPLIT_RE = re.compile(f"({_URLEMAIL_RE.pattern})")


# sentinel for the bulk URL/email path: a letter (\pL, so it rides inside
# the Arrow token machinery as an ordinary 1-char token) that cannot
# occur in real web text; \x01 delimiters around it force the same token
# boundaries the per-segment split produces
_UE_SENT = "ꞏ"  # LATIN LETTER SINOLOGICAL DOT


def _tokenize_urlemail_bulk(texts: pd.Series,
                            stopset: frozenset = ENGLISH_STOP_WORDS) -> tuple:
    """Vectorized URL/email tokenization (VERDICT-r4 'What's wrong' #3:
    on a web corpus essentially EVERY doc carries a URL, so the per-doc
    finditer loop was the one per-row-Python analyzer hot path).

    Three C-level passes over ONE \\x00-joined corpus string — a global
    finditer harvests the URL/email matches (few per doc), a global
    re.sub replaces each match with a delimited sentinel letter, and the
    marked text re-splits into docs — then the ordinary Arrow fast path
    tokenizes the marked docs (sentinel = one token at the URL's
    position), and the sentinel rows get their URL strings back in
    (doc, pos) order. Byte-identical to the per-doc path (the \\x01
    delimiters reproduce the segment boundaries exactly); property
    test: test_analysis.py::test_urlemail_bulk_equals_perdoc."""
    n_docs = len(texts)
    low = [s.lower() for s in texts.fillna("")]
    if any(_UE_SENT in s or "\x00" in s or "\x01" in s for s in low):
        return _tokenize_urlemail(pd.Series(low), stopset=stopset)
    joined = "\x00".join(low)
    if _compile_gate(_NONARROW_PAT).search(joined):
        # CJK/Hebrew/SEA/No chars need the regex machinery — the per-doc
        # path handles the (rare) combination with URLs
        return _tokenize_urlemail(pd.Series(low), stopset=stopset)
    # ONE C-level global scan: the capturing split yields
    # [seg0, match1, seg1, match2, ...] — segments and matches together,
    # in (doc, in-doc offset) order, exactly the (doc, pos) order of the
    # sentinel rows below
    pieces = _URLEMAIL_SPLIT_RE.split(joined)
    if len(pieces) == 1:
        return _tokenize_arrow(pd.Series(low), check_cjk=False,
                               stopset=stopset)
    urls = pieces[1::2]
    marked = f"\x01{_UE_SENT}\x01".join(pieces[0::2])
    parts = marked.split("\x00")
    fast = _tokenize_arrow(pd.Series(parts), check_cjk=False,
                           stopset=stopset)
    doc_idx, terms, pos, lengths = fast
    cat = (terms if isinstance(terms, pd.Categorical)
           else pd.Categorical(np.asarray(terms, dtype=object)))
    cats_old = cat.categories.to_numpy(dtype=object)
    codes = np.asarray(cat.codes).copy()
    sent_code = np.flatnonzero(cats_old == _UE_SENT)
    sent_rows = (np.flatnonzero(codes == sent_code[0])
                 if len(sent_code) else np.zeros(0, np.int64))
    if len(sent_rows) != len(urls):  # never expected; belt-and-braces
        return _tokenize_urlemail(pd.Series(low), stopset=stopset)
    # splice URL strings in as NEW dictionary entries (a URL contains
    # '://' or '@', so it can never collide with a word category)
    url_arr = np.array(urls, dtype=object)
    uniq_urls, inv = np.unique(url_arr, return_inverse=True)
    codes[sent_rows] = len(cats_old) + inv
    new_terms = pd.Categorical.from_codes(
        codes, categories=np.concatenate([cats_old, uniq_urls])
    )
    # MAX_TOKEN_LENGTH parity: an over-long URL is dropped but still
    # consumes its position (same as _emit_token_lists keep_len)
    url_lens = np.fromiter((len(u) for u in uniq_urls), np.int64,
                           count=len(uniq_urls))
    if (url_lens > MAX_TOKEN_LENGTH).any():
        too_long = sent_rows[url_lens[inv] > MAX_TOKEN_LENGTH]
        lengths = np.asarray(lengths).copy()
        np.subtract.at(lengths, np.asarray(doc_idx)[too_long], 1)
        keep = np.ones(len(codes), dtype=bool)
        keep[too_long] = False
        doc_idx = np.asarray(doc_idx)[keep]
        pos = np.asarray(pos)[keep]
        new_terms = new_terms[keep]
    return doc_idx, new_terms, pos, lengths


def _tokenize_thai(texts: pd.Series,
                   stopset: frozenset = ENGLISH_STOP_WORDS) -> tuple:
    """Per-doc slow path for docs with Thai-script runs
    (th/ThaiTokenizer.java): Thai runs segment through the dictionary
    longest-match (analysis/thai.py); interleaved non-Thai text breaks
    like the standard tokenizer. Positions interleave in text order."""
    from .thai import THAI_RUN_RE, thai_segment

    texts = texts.map(str.lower)

    def _words(seg: str) -> list[str]:
        return _findall_tokens(seg)

    tok_lists = []
    for s in texts:
        toks: list[str] = []
        last = 0
        for m in THAI_RUN_RE.finditer(s):
            if m.start() > last:
                toks.extend(_words(s[last:m.start()]))
            toks.extend(thai_segment(m.group(0)))
            last = m.end()
        if last < len(s):
            toks.extend(_words(s[last:]))
        tok_lists.append(toks)
    return _emit_token_lists(
        pd.Series(tok_lists, index=texts.index), len(texts), stopset
    )


def _tokenize_urlemail(texts: pd.Series,
                       stopset: frozenset = ENGLISH_STOP_WORDS) -> tuple:
    """Per-doc slow path for docs that may contain URL/email tokens."""
    texts = texts.map(str.lower)

    def _words(seg: str) -> list[str]:
        return _findall_tokens(seg)

    tok_lists = []
    for s in texts:
        toks: list[str] = []
        last = 0
        for m in _URLEMAIL_RE.finditer(s):
            if m.start() > last:
                toks.extend(_words(s[last:m.start()]))
            toks.append(m.group(0))
            last = m.end()
        if last < len(s):
            toks.extend(_words(s[last:]))
        tok_lists.append(toks)
    return _emit_token_lists(
        pd.Series(tok_lists, index=texts.index), len(texts), stopset
    )


# analyzer registry (the EnglishAnalyzer hook, ROADMAP "registry" line):
#   standard — HTMLless StandardAnalyzer chain (tokenize/lower/stop)
#   english  — + EnglishPossessiveFilter + PorterStemFilter
#              (analysis/common/.../en/EnglishAnalyzer.java:105-113)
#   folding  — + ASCIIFoldingFilter (diacritics/ligatures -> ASCII,
#              analysis/common/.../miscellaneous/ASCIIFoldingFilter.java)
#   english_minimal — + possessive strip + Harman 1991 S-stemmer
#              (analysis/common/.../en/EnglishMinimalStemFilter.java)
#   german/french/spanish/portuguese/russian/italian/dutch/swedish/
#   norwegian/danish — language stop set + Snowball stemmer
#              (analysis/common/.../snowball/SnowballFilter.java:53 and
#              the per-language packages; algorithms re-implemented
#              from the published descriptions in snowball.py)
#   shingle / synonym / word_delimiter — multi-token (graph) filters on
#              top of the standard chain (analysis/graph.py):
#              ShingleFilter word-bigrams with '_' fillers, index-time
#              SolrSynonymParser rules, WordDelimiterFilter
#              letter<->digit splits
SNOWBALL_ANALYZERS = ("finnish", "hungarian", "catalan", "turkish",
                      "basque", "irish", "armenian",
                      "german", "french", "spanish", "portuguese",
                      "russian", "italian", "dutch", "swedish",
                      "norwegian", "danish", "romanian")
#   url_email — UAX29URLEmailTokenizer subset: URLs (http/https/ftp/file
#              scheme) and emails emitted as single tokens
#              (standard/UAX29URLEmailTokenizerImpl.jflex)
#   arabic/persian/czech/bulgarian/hindi/indonesian/latvian/greek — the
#              reference's non-Snowball light packs (normalizers +
#              light stemmers, analysis/light.py)
#   cjk — CJKAnalyzer profile: contiguous CJK/Hangul chars as
#              overlapping character bigrams (cjk/CJKBigramFilter.java:48)
#   common_grams — no stop removal; adjacent pairs containing a common
#              word add a "w1_w2" gram at the first word's position
#              (commongrams/CommonGramsFilter.java:52)
GRAPH_ANALYZERS = ("shingle", "synonym", "synonym_graph",
                   "word_delimiter", "common_grams")
LIGHT_ANALYZERS = ("arabic", "persian", "czech", "bulgarian", "hindi",
                   "indonesian", "latvian", "greek", "sorani", "brazilian",
                   "galician", "german_light", "french_light",
                   "spanish_light", "portuguese_light", "italian_light",
                   "portuguese_rslp", "portuguese_minimal",
                   "galician_minimal", "swedish_light", "norwegian_light",
                   "norwegian_minimal", "russian_light", "hungarian_light",
                   "finnish_light", "german_minimal", "french_minimal")
#   german_decompound — GermanAnalyzer chain with
#              DictionaryCompoundWordTokenFilter between stop and the
#              normalize/stem tail (compound/DictionaryCompoundWord
#              TokenFilter.java:41; subwords ride posInc 0); matching
#              runs on the PRE-normalization lowercased term (the
#              dictionary carries ä/ß forms), stemming applies to
#              originals AND subwords — pinned against a compiled
#              harness in tests/test_graph.py
#   thai — ThaiAnalyzer chain (th/ThaiAnalyzer.java): Thai-script runs
#              dictionary-segmented (analysis/thai.py), LowerCase, the
#              transcribed th stop list
#   cjk_ja — JapaneseIterationMarkCharFilter (ja/JapaneseIterationMark
#              CharFilter.java, byte-identical vs the compiled filter,
#              tools/fuzz_ja.py) before the CJK bigram chain — the
#              dictionary-free slice of the kuromoji package. The
#              JapaneseTokenizer itself is ENVIRONMENT-BLOCKED: the
#              reference checkout lacks TokenInfoDictionary$buffer.dat,
#              its own JapaneseAnalyzer cannot start (analysis/
#              japanese.py docstring).
#   hunspell — StandardTokenizer + LowerCase + HunspellStemFilter over
#              the bundled demo dictionary (hunspell/HunspellStemFilter
#              .java; the Solr hunspell fieldtype shape: no stop filter,
#              dictionary decides). First stem replaces the token, extra
#              stems ride posInc 0, unknown words pass through. The
#              stemmer recursion is differentially verified against the
#              compiled reference Dictionary/Stemmer (tools/
#              fuzz_hunspell.py, 6k+ comparisons across all fixtures).
#   english_kstem — KStemFilter chain (en/KStemFilter.java; the Solr
#              text_en shape: possessive -> stop -> KStem; kstem.py is
#              byte-identical to the compiled reference KStemmer,
#              tools/fuzz_kstem.py)
ANALYZERS = ("standard", "english", "folding", "english_minimal",
             "english_kstem",
             "url_email", "cjk", "cjk_ja", "german_decompound", "thai",
             "hunspell") \
    + SNOWBALL_ANALYZERS + LIGHT_ANALYZERS + GRAPH_ANALYZERS


def tokenize_series(texts: pd.Series, analyzer: str = "standard") -> pd.DataFrame:
    """Full analyzer chain over a batch of texts.

    Returns a flat DataFrame with columns:
      doc_idx : int32 position of the text within the batch
      term    : analyzed (lowercased, stop-filtered) term
      pos     : int32 token position, with gaps where stopwords/over-long
                tokens were removed (position-increment semantics)
    plus ``.attrs["doc_lengths"]``: int32 array of per-doc emitted token
    counts (the BM25 norm length, FieldInvertState.getLength()).

    Hybrid execution: docs without CJK run through the Arrow C++ kernel
    path (no Python string objects at all); the rare CJK docs use the
    reference regex path (per-character ideograph expansion); results are
    spliced back in doc order.

    ``texts`` may be a pandas Series OR a pyarrow Array/ChunkedArray —
    Arrow input stays Arrow end-to-end (no object-string materialization
    of the corpus; the applyInArrow build path depends on this).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .chain import LATE_STOP_ANALYZERS

    if analyzer not in ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r}; registry: {ANALYZERS}")
    if analyzer in SNOWBALL_ANALYZERS:
        from .snowball import SNOWBALL_STOPWORDS

        stopset = SNOWBALL_STOPWORDS[analyzer]
    elif analyzer in LIGHT_ANALYZERS:
        from .light import LIGHT_STOPWORDS

        stopset = LIGHT_STOPWORDS[analyzer]
    elif analyzer == "german_decompound":
        from .snowball import SNOWBALL_STOPWORDS

        stopset = SNOWBALL_STOPWORDS["german"]
    elif analyzer == "thai":
        stopset = _REF_STOPS["thai"]
    elif analyzer in ("common_grams", "hunspell"):
        # CommonGramsFilter replaces stop removal: common words stay as
        # unigrams AND seed the grams; the hunspell fieldtype carries no
        # stop filter (the dictionary decides)
        stopset = frozenset()
    elif analyzer in ("cjk", "cjk_ja"):
        stopset = CJK_STOP_WORDS
    else:
        stopset = ENGLISH_STOP_WORDS

    # fr/it/ca/ga (elision), tr (apostrophe), el/fa/hi/ckb (normalize):
    # the reference's StopFilter runs AFTER a term-level stage — the
    # tokenizer runs stop-free and chain.apply_late_chain stops at the
    # reference chain position (analysis/chain.py docstring for the
    # per-language createComponents order)
    late_stopset = None
    if analyzer in LATE_STOP_ANALYZERS:
        late_stopset = stopset
        stopset = frozenset()

    if analyzer == "irish":
        # IrishLowerCaseFilter eclipsis (ga/IrishLowerCaseFilter.java:36):
        # a token-initial n/t before an UPPERCASE vowel gains a hyphen
        # ("nAthair" -> "n-athair") BEFORE lowercasing. Case is gone
        # after the generic lowercase, so mark the boundary at text level
        # with a sentinel letter (U+A7FF, \pL — never splits a token, and
        # cannot occur in Irish text); chain._irish_pre rewrites it to
        # the hyphen at the IrishLowerCaseFilter chain position. The
        # leading group reproduces token-start exactly: the preceding
        # char is a tokenizer delimiter (complement of _ARROW_DELIM's
        # token set) or string start.
        if not isinstance(texts, (pa.Array, pa.ChunkedArray)):
            texts = pa.Array.from_pandas(
                texts.fillna(""), type=pa.string()
            )
        texts = pc.replace_substring_regex(
            texts,
            pattern=(r"(^|[^\pL\pM\pN\p{Cf}_"
                     + _MIDLETTER + _MIDNUMLET_SQ
                     + r"])([nt])([AEIOUÁÉÍÓÚ])"),
            replacement="\\1\\2ꟿ\\3",
        )
        # a MidLetter/MidNumLet char joins only letter_letter: when NOT
        # preceded by a letter it is an ordinary delimiter, so the n/t
        # after it IS token-initial (e.g. "12:nUll", "1.nUll" hyphenate;
        # "a:nAthair", "a.nAthair" do not — probed vs the compiled
        # IrishAnalyzer)
        texts = pc.replace_substring_regex(
            texts,
            pattern=(r"(^|[^\pL\p{Nl}])(["
                     + _MIDLETTER + _MIDNUMLET_SQ
                     + r"])([nt])([AEIOUÁÉÍÓÚ])"),
            replacement="\\1\\2\\3ꟿ\\4",
        )

    if analyzer == "cjk_ja":
        # JapaneseIterationMarkCharFilter at the reference's char-filter
        # position (before tokenization). Iteration marks are rare: an
        # Arrow contains-gate keeps mark-free docs off the Python
        # normalizer (the filter itself is differentially verified
        # byte-identical, tools/fuzz_ja.py)
        from .japanese import iteration_mark_normalize

        if not isinstance(texts, (pa.Array, pa.ChunkedArray)):
            texts = pa.Array.from_pandas(texts.fillna(""), type=pa.string())
        if isinstance(texts, pa.ChunkedArray):
            texts = texts.combine_chunks()
        has_mark = pc.match_substring_regex(
            texts, "[々ゝゞヽヾ]"
        ).to_numpy(zero_copy_only=False)
        if has_mark.any():
            idx = np.flatnonzero(has_mark)
            fixed = pa.array(
                [iteration_mark_normalize(texts[int(i)].as_py())
                 for i in idx],
                type=pa.string(),
            )
            mask = pa.array(has_mark)
            texts = pc.replace_with_mask(texts, mask, fixed)

    # Character.toLowerCase is per-char and context-free; Python's
    # str.lower() is not, in exactly two ways that change terms:
    # U+0130 İ expands to 'i'+combining-dot (the only multi-char
    # lowercase in the BMP) and U+03A3 Σ lowers to FINAL sigma ς at
    # word end (Java always gives σ; Greek's own chain folds ς->σ
    # later, so the pre-map is safe for greek too). Pre-map both so
    # every chain and both gate paths agree with the reference.
    # Gated: the replaces only run when a batch contains the chars
    # (turkish re-maps İ/I below; İ->i here is the same mapping).
    for _src_c, _dst_c in (("İ", "i"), ("Σ", "σ")):
        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            if pc.any(pc.match_substring(texts, _src_c)).as_py():
                texts = pc.replace_substring(texts, _src_c, _dst_c)
        else:
            if texts.str.contains(_src_c, regex=False).any():
                texts = texts.str.replace(_src_c, _dst_c, regex=False)

    if analyzer == "turkish":
        # TurkishLowerCaseFilter (tr/TurkishLowerCaseFilter.java): map
        # İ->i and I->ı BEFORE the generic lowercase, so İ never becomes
        # "i + combining dot" and capital I never becomes dotted i
        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            texts = pc.replace_substring(texts, "İ", "i")
            texts = pc.replace_substring(texts, "I", "ı")
        else:
            texts = texts.str.replace("İ", "i", regex=False).str.replace(
                "I", "ı", regex=False)

    # the slow per-doc path serves CJK docs (per-char/run expansion) and,
    # for the url_email tokenizer, docs that may contain URL/email tokens
    # (doc-level marker pre-gate keeps everything else on the Arrow path)
    # every analyzer's slow gate must ALSO divert the hard-unicode
    # suspect classes (_NONARROW_EXTRA / \p{No}) \u2014 otherwise a
    # Hebrew-quote/SEA/No doc tokenizes by the approximate Arrow rules
    # on the fast path while the same text plus a gate marker takes the
    # exact path: an index/query mismatch WITHIN one analyzer
    if analyzer == "url_email":
        slow_pat = (f"[{_CJK_CLASS}{_NONARROW_EXTRA}]|\\p{{No}}"
                    f"|{_URLEMAIL_MARK}")
        slow_re = _compile_gate(slow_pat)
        slow_fn = _tokenize_urlemail_bulk
    elif analyzer in ("cjk", "cjk_ja"):
        # ！-･: CJKWidthFilter's fullwidth-ASCII fold range —
        # such docs must reach the slow path where the width filter runs
        slow_pat = (f"[{_CJK_CLASS}{_HANGUL_CLASS}{_NONARROW_EXTRA}"
                    f"！-･]|\\p{{No}}")
        slow_re = _compile_gate(slow_pat)
        slow_fn = _tokenize_regex_cjk_bigram
    elif analyzer == "thai":
        slow_pat = f"[{_CJK_CLASS}{_NONARROW_EXTRA}]|\\p{{No}}"
        slow_re = _compile_gate(slow_pat)
        slow_fn = _tokenize_thai
    else:
        slow_pat = _NONARROW_PAT
        slow_re = _compile_gate(slow_pat)
        slow_fn = _tokenize_regex

    if isinstance(texts, (pa.Array, pa.ChunkedArray)):
        arr = pc.fill_null(texts, "")
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n_docs = len(arr)
        cjk = pc.match_substring_regex(arr, slow_pat).to_numpy(
            zero_copy_only=False
        )
        texts = arr  # pandas conversion only happens for slow slices below
    else:
        texts = texts.fillna("").reset_index(drop=True)
        n_docs = len(texts)
        try:
            # C-side gate scan (RE2); the python fallback serves patterns
            # RE2 can't take
            cjk = pc.match_substring_regex(
                pa.Array.from_pandas(texts, type=pa.string()), slow_pat
            ).to_numpy(zero_copy_only=False)
        except Exception:
            cjk = texts.map(
                lambda s: slow_re.search(s) is not None
            ).to_numpy()

    def _slice(obj, idx):
        if isinstance(obj, pa.Array):
            return obj.take(pa.array(idx))
        return obj.iloc[idx].reset_index(drop=True)

    try:
        if not cjk.any():
            fast = _tokenize_arrow(texts, check_cjk=False, stopset=stopset)
        elif cjk.all():
            # every doc is on the slow path (the common web-corpus case
            # for url_email): call it directly, no splice
            all_texts = (texts.to_pandas() if isinstance(texts, pa.Array)
                         else texts)
            fast = slow_fn(all_texts, stopset=stopset)
        else:
            clean_pos = np.flatnonzero(~cjk)
            cjk_pos = np.flatnonzero(cjk)
            fa = _tokenize_arrow(_slice(texts, clean_pos),
                                 check_cjk=False, stopset=stopset)
            cjk_texts = _slice(texts, cjk_pos)
            if isinstance(cjk_texts, pa.Array):
                cjk_texts = cjk_texts.to_pandas()
            fb = slow_fn(cjk_texts, stopset=stopset)
            from pandas.api.types import union_categoricals

            di = np.concatenate([clean_pos[fa[0]], cjk_pos[fb[0]]])
            terms = union_categoricals(
                [pd.Categorical(fa[1]), pd.Categorical(fb[1])]
            )
            pos = np.concatenate([fa[2], fb[2]])
            lengths = np.zeros(n_docs, dtype=np.int32)
            lengths[clean_pos] = fa[3]
            lengths[cjk_pos] = fb[3]
            order = np.argsort(di, kind="mergesort")  # pos stays asc per doc
            fast = (di[order], terms[order], pos[order], lengths)
    except Exception:
        import pyarrow as _pa

        if isinstance(texts, _pa.Array):
            texts = texts.to_pandas()
        fast = slow_fn(texts, stopset=stopset)
    doc_idx, terms, pos, lengths = fast
    if late_stopset is not None:
        from .chain import apply_late_chain

        doc_idx, terms, pos, lengths = apply_late_chain(
            doc_idx, terms, pos, lengths, analyzer, late_stopset
        )
    elif analyzer == "english":
        from .stem import english_filter_terms

        terms = english_filter_terms(
            terms if isinstance(terms, pd.Categorical) else np.asarray(terms)
        )
    elif analyzer == "folding":
        from .fold import fold_filter_terms

        terms = fold_filter_terms(
            terms if isinstance(terms, pd.Categorical) else np.asarray(terms)
        )
    elif analyzer == "english_minimal":
        from .stem import english_minimal_filter_terms

        terms = english_minimal_filter_terms(
            terms if isinstance(terms, pd.Categorical) else np.asarray(terms)
        )
    elif analyzer in SNOWBALL_ANALYZERS:
        from .snowball import snowball_filter_terms

        terms = snowball_filter_terms(
            terms if isinstance(terms, pd.Categorical) else np.asarray(terms),
            analyzer,
        )
    elif analyzer in LIGHT_ANALYZERS:
        from .light import light_filter_terms

        terms = light_filter_terms(
            terms if isinstance(terms, pd.Categorical) else np.asarray(terms),
            analyzer,
        )
    out = pd.DataFrame(
        {
            "doc_idx": np.asarray(doc_idx, dtype=np.int32),
            "term": terms,
            "pos": pos,
        }
    )
    out.attrs["doc_lengths"] = lengths
    if analyzer == "german_decompound":
        from . import graph
        from .light import light_filter_terms

        out = graph.decompound_flat(out)
        out["term"] = light_filter_terms(
            pd.Categorical(out["term"]), "german_light"
        )
    elif analyzer == "hunspell":
        from .hunspell import hunspell_flat

        out = hunspell_flat(out)
    elif analyzer in GRAPH_ANALYZERS:
        from . import graph

        if analyzer == "shingle":
            out = graph.shingle_flat(out)
        elif analyzer == "synonym":
            out = graph.synonym_flat(
                out, graph.parse_synonym_rules(graph.DEFAULT_SYNONYM_LINES)
            )
        elif analyzer == "synonym_graph":
            out = graph.synonym_graph_flat(
                out,
                graph.parse_synonym_rules_multi(graph.SYNONYM_GRAPH_LINES),
            )
        elif analyzer == "common_grams":
            out = graph.common_grams_flat(out, ENGLISH_STOP_WORDS)
        else:
            out = graph.word_delimiter_flat(out)
    return out


def analyze_series(texts: pd.Series, analyzer: str = "standard") -> pd.Series:
    """texts -> Series of list-of-terms (positions dropped)."""
    flat = tokenize_series(texts, analyzer=analyzer)
    n = len(texts)
    result = [[] for _ in range(n)]
    for d, t in zip(flat["doc_idx"].to_numpy(), flat["term"].to_numpy()):
        result[d].append(t)
    return pd.Series(result, index=texts.index)


def analyze_one(text: str, analyzer: str = "standard") -> list[tuple[str, int]]:
    """Single-string convenience: [(term, position), ...]."""
    return analyze_many([text], analyzer=analyzer)[0]


def analyze_many(
    texts: list[str], analyzer: str = "standard"
) -> list[list[tuple[str, int]]]:
    """``analyze_one`` over many strings in ONE ``tokenize_series`` call:
    one row per string, so each string's tokens and positions are exactly
    its own (the chain is per-document), while the fixed per-call cost of
    the Arrow kernels is paid once for the whole batch."""
    out: list[list[tuple[str, int]]] = [[] for _ in texts]
    if not out:
        return out
    flat = tokenize_series(pd.Series(list(texts), dtype=object), analyzer=analyzer)
    for d, t, p in zip(flat["doc_idx"].tolist(), flat["term"].tolist(),
                       flat["pos"].tolist()):
        out[d].append((t, p))
    return out
