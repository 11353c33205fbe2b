"""Minimal Lucene-style boolean query model + parser.

Models the BooleanQuery clause algebra (search/BooleanQuery.java:343-470):
required (+/AND mode), optional (OR mode, SHOULD), prohibited (-term,
MUST_NOT) clauses, plus exact quoted phrases (PhraseQuery with
position-gap-preserving offsets). Scores are plain sums of clause scores —
coord and queryNorm are 1 for BM25 (similarities/Similarity.java:121,138).

Rewrites applied at parse time (the Query.rewrite fixpoint of
search/IndexSearcher.java:516-522, here trivially single-pass):
  - single-term phrase -> term clause
  - clause analyzed to nothing (stopwords only) -> dropped
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from ..analysis import analyze_many


@dataclass
class Clause:
    # "term" | "phrase" | "wildcard" | "regexp" (pre-rewrite multi-term
    # queries, terms=[pattern]) | "term_set" (post-rewrite constant-score
    # expansion, MultiTermQuery CONSTANT_SCORE_REWRITE,
    # search/MultiTermQuery.java:64-116)
    kind: str
    terms: list[str]
    offsets: list[int] = field(default_factory=list)  # phrase position offsets
    required: bool = False
    boost: float = 1.0  # query-time boost (weight = idf * boost, BM25Stats.normalize)
    slop: int = 0  # phrase proximity (PhraseQuery.setSlop; 0 = exact)
    # MultiPhraseQuery (search/MultiPhraseQuery.java): alternatives per
    # phrase position ("a|b c" -> [[a, b], [c]]). None for plain phrases;
    # when set, `terms` holds the flattened alternatives (stats/scan list)
    # and the weight sums idfs over ALL alternatives, as the reference does.
    alts: list[list[str]] | None = None
    # nested BooleanQuery (kind == "bool"): the parenthesized sub-query
    # ("(a b)^2 +c"); terms is empty, the sub-query carries the clauses
    sub: "Query | None" = None
    # FuzzyQuery (kind == "fuzzy", search/FuzzyQuery.java:54-56): max edit
    # distance for the dictionary expansion ("term~2"); terms=[target].
    # Classic Levenshtein (transpositions count as 2 edits — the reference's
    # transpositions=false profile, matching Spark/DuckDB levenshtein()).
    fuzzy_edits: int = 0


@dataclass
class Query:
    clauses: list[Clause]
    must_not: list[str] = field(default_factory=list)
    # BooleanQuery.setMinimumNumberShouldMatch (search/BooleanQuery.java:158,
    # scorer: MinShouldMatchSumScorer.java:36-48): optional-clause quota
    min_should_match: int = 0
    # DisjunctionMaxQuery tie-breaker (search/DisjunctionMaxQuery.java:45-54):
    # when set, score = max(clause scores) + tie * (sum of the others)
    # instead of the BooleanQuery sum
    dismax_tie: float | None = None
    # prohibited multi-term patterns ("-foo*", "-/re/"): (kind, pattern)
    # pairs, kind in {"wildcard", "regexp"}, expanded against the terms
    # dictionary at rewrite time into must_not terms (a MultiTermQuery
    # under a MUST_NOT occur)
    must_not_patterns: list = field(default_factory=list)

    @property
    def all_terms(self) -> list[str]:
        out: list[str] = []
        for c in self.clauses:
            if c.kind == "bool" and c.sub is not None:
                out.extend(c.sub.all_terms)
            else:
                out.extend(c.terms)
        out.extend(self.must_not)
        return out


# token stream: quoted phrase (w/ ~slop ^boost), /regexp/ (w/ prefix +
# and ^boost; parens allowed INSIDE the slashes), group open (w/ +/-
# prefix), group close (w/ ^boost), bare word
_TOKENIZER = re.compile(
    r"\"[^\"]*\"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?"
    r"|[+\-]?/[^/\s]+/(?:\^\d+(?:\.\d+)?)?"
    r"|[+\-]?\("
    r"|\)(?:\^\d+(?:\.\d+)?)?"
    r"|[^\s()]+"
)
_PHRASE_TOKEN_RE = re.compile(r"^\"([^\"]*)\"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?$")
_GROUP_CLOSE_RE = re.compile(r"^\)(?:\^(\d+(?:\.\d+)?))?$")
_BOOST_SUFFIX_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZY_SUFFIX_RE = re.compile(r"~(\d+)?$")


def parse_query(text: str, mode: str = "OR", analyzer: str = "standard") -> Query:
    """Parse free text with optional "quoted phrases", +required, -prohibited,
    and parenthesized sub-queries: '(a b)^2 +(c "d e")' builds nested
    BooleanQuery clauses (BooleanQuery within BooleanQuery,
    search/BooleanQuery.java — the standard QueryParser grouping).

    mode="AND" makes every non-phrase, non-prefixed clause required
    (conjunctive) at EVERY nesting level; mode="OR" leaves them optional.
    Negated groups ('-(...)') are not supported — push the '-' onto the
    inner terms instead.
    """
    tokens = _TOKENIZER.findall(text)
    # pass 1 collects every string the parse analyzes (an analyzer that
    # keeps each string whole drives every branch that analyzes more);
    # they are analyzed together, then pass 2 parses on the results
    wanted: list[str] = []
    _parse_group(tokens, 0, mode, lambda s: wanted.append(s) or [(s, 0)], 0)
    q, _boost, _i = _parse_group(
        tokens, 0, mode, analyze_memo(wanted, analyzer).__getitem__, 0)
    return q


# Process-wide memo of query-side analysis, (analyzer, text) -> tokens.
# Analysis is a pure function of the text and of module constants (the
# chains, stop sets and stemmer tables never change at run time), so an
# entry never goes stale and needs no invalidation; the entry count is
# bounded, least recently used first out.
ANALYSIS_MEMO_ENTRIES = 8192
_MEMO: OrderedDict = OrderedDict()
_MEMO_LOCK = threading.Lock()


def analyze_memo(texts: list[str], analyzer: str) -> dict[str, tuple]:
    """text -> ((term, position), ...) for every text; the ones not in the
    memo are analyzed in one batched ``analyze_many`` call."""
    out: dict[str, tuple] = {}
    with _MEMO_LOCK:
        for t in texts:
            hit = _MEMO.get((analyzer, t))
            if hit is not None:
                _MEMO.move_to_end((analyzer, t))
                out[t] = hit
    missing = [t for t in dict.fromkeys(texts) if t not in out]
    if missing:
        fresh = analyze_many(missing, analyzer=analyzer)
        with _MEMO_LOCK:
            for t, toks in zip(missing, fresh):
                out[t] = _MEMO[(analyzer, t)] = tuple(toks)
            while len(_MEMO) > ANALYSIS_MEMO_ENTRIES:
                _MEMO.popitem(last=False)
    return out


def _parse_group(
    tokens: list[str], i: int, mode: str, analyze, depth: int
) -> tuple[Query, float, int]:
    """``analyze(text)`` returns the text's analyzed (term, position)s."""
    required_default = mode.upper() == "AND"
    clauses: list[Clause] = []
    must_not: list[str] = []
    must_not_patterns: list = []
    while i < len(tokens):
        tok = tokens[i]
        mclose = _GROUP_CLOSE_RE.match(tok)
        if mclose:
            i += 1
            if depth == 0:
                continue  # stray ')' at top level: ignore
            return (
                Query(clauses, must_not, must_not_patterns=must_not_patterns),
                float(mclose.group(1)) if mclose.group(1) else 1.0,
                i,
            )
        if tok in ("(", "+("):
            sub, gboost, i = _parse_group(tokens, i + 1, mode, analyze, depth + 1)
            if sub.clauses or sub.must_not or sub.must_not_patterns:
                clauses.append(
                    Clause(
                        "bool", [],
                        required=(tok == "+(") or required_default,
                        boost=gboost,
                        sub=sub,
                    )
                )
            continue
        if tok == "-(":
            raise ValueError(
                "negated groups ('-(...)') are not supported; "
                "negate the inner terms instead"
            )
        i += 1
        pm = _PHRASE_TOKEN_RE.match(tok)
        if pm is not None:
            phrase, pslop, pboost = pm.group(1), pm.group(2), pm.group(3)
            boost = float(pboost) if pboost else 1.0
            slop = int(pslop) if pslop else 0
            if "|" in phrase:
                # MultiPhraseQuery syntax: "a|b c" = (a OR b) then c.
                # Each alternative analyzes independently; a slot whose
                # alternatives all analyze away drops the clause.
                slots: list[list[str]] = []
                ok = True
                for word in phrase.split():
                    alts_here: list[str] = []
                    for alt in word.split("|"):
                        t = analyze(alt)
                        if t:
                            alts_here.append(t[0][0])
                    if not alts_here:
                        ok = False
                        break
                    slots.append(sorted(set(alts_here)))
                if not ok or not slots:
                    continue
                if len(slots) == 1 and len(slots[0]) == 1:
                    clauses.append(
                        Clause("term", [slots[0][0]],
                               required=required_default, boost=boost)
                    )
                else:
                    clauses.append(
                        Clause(
                            "phrase",
                            [t for s in slots for t in s],
                            offsets=list(range(len(slots))),
                            required=required_default,
                            boost=boost,
                            slop=slop,
                            alts=slots,
                        )
                    )
                continue
            toks = analyze(phrase)
            if not toks:
                continue
            if len(toks) == 1:
                clauses.append(
                    Clause("term", [toks[0][0]], required=required_default, boost=boost)
                )
            else:
                base = toks[0][1]
                clauses.append(
                    Clause(
                        "phrase",
                        [t for t, _ in toks],
                        offsets=[p - base for _, p in toks],
                        required=required_default,
                        boost=boost,
                        slop=slop,
                    )
                )
        else:
            word = tok
            req = required_default
            neg = False
            boost = 1.0
            if word.startswith("+"):
                req, word = True, word[1:]
            elif word.startswith("-"):
                neg, word = True, word[1:]
            bm = _BOOST_SUFFIX_RE.search(word)
            if bm:
                boost = float(bm.group(1))
                word = word[: bm.start()]
            # /regex/ -> RegexpQuery; * or ? -> WildcardQuery. Multi-term
            # patterns are NOT analyzed (QueryParserBase.getWildcardQuery
            # semantics), only lowercased; the searcher rewrites them
            # against the terms dictionary at search time.
            if len(word) > 1 and word.startswith("/") and word.endswith("/"):
                if neg:
                    must_not_patterns.append(("regexp", word[1:-1].lower()))
                else:
                    clauses.append(
                        Clause("regexp", [word[1:-1].lower()], required=req, boost=boost)
                    )
                continue
            if "*" in word or "?" in word:
                if neg:
                    must_not_patterns.append(("wildcard", word.lower()))
                else:
                    clauses.append(
                        Clause("wildcard", [word.lower()], required=req, boost=boost)
                    )
                continue
            fm = _FUZZY_SUFFIX_RE.search(word)
            if fm and len(word) > len(fm.group(0)):
                # FuzzyQuery: 'term~' (default 2 edits), 'term~1', 'term~2'
                # (QueryParserBase.getFuzzyQuery; edits capped at
                # LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE = 2 —
                # the reference parser ERRORS past it rather than silently
                # re-tokenizing, so 'term~10' raises here too, ADVICE r3)
                edits = int(fm.group(1)) if fm.group(1) else 2
                if edits > 2:
                    raise ValueError(
                        f"fuzzy edit distance {edits} > 2 is unsupported "
                        f"(LevenshteinAutomata max) in {word!r}"
                    )
                base = word[: fm.start()].lower()
                if neg:
                    raise ValueError(
                        "negated fuzzy clauses ('-term~2') are not supported"
                    )
                if edits == 0:
                    clauses.append(
                        Clause("term", [base], required=req, boost=boost)
                    )
                else:
                    clauses.append(
                        Clause("fuzzy", [base], required=req, boost=boost,
                               fuzzy_edits=edits)
                    )
                continue
            toks = analyze(word)
            if not toks:
                continue
            for t, _ in toks:
                if neg:
                    must_not.append(t)
                else:
                    clauses.append(Clause("term", [t], required=req, boost=boost))
    # end of token stream (also closes an unterminated group leniently)
    return Query(clauses, must_not, must_not_patterns=must_not_patterns), 1.0, i
