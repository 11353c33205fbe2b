"""Query-side analysis: parse_query analyzes every string of a query in one
batched tokenize_series call and memoizes the result per (analyzer, text).
Both must be invisible: batched tokens equal per-string analyze_one, and a
memo-warm parse equals a cold one."""

from __future__ import annotations

import pytest

from lucene_solr_spark.analysis import ANALYZERS, analyze_many, analyze_one
from lucene_solr_spark.search import query as Q

# ASCII, CJK, Hebrew, dotted capital I / final sigma, url + email, stop
# words alone, the empty string
STRINGS = [
    "Quick brown foxes jumped", "東京タワー 東京都に住む", "שלום עולם גדול",
    "İstanbul ΣΊΣΥΦΟΣ οδός", "mail bob@example.com https://example.org/a?b=1",
    "a", "b c", "the", "",
]

QUERIES = [
    "quick brown fox",
    '+running -jumped "the lazy dogs"^2',
    '"a|b c" d^3 "quick|fast brown|red fox"',
    '東京 タワー "東京タワー" +住む',
    'שלום "עולם גדול"',
    'İstanbul ΣΟΦΟΣ "ὈΔΥΣΣΕΎΣ sisyphus"^1.5',
    "mail bob@example.com https://example.org/a?b=1",
    '(quick fox)^2 +(lazy "brown dog") -cat',
    "fox* /do[gc]/ quick~1 the",
]


@pytest.mark.parametrize("analyzer", ANALYZERS)
def test_batched_analysis_equals_analyze_one(analyzer):
    singles = [analyze_one(s, analyzer=analyzer) for s in STRINGS]
    assert analyze_many(STRINGS, analyzer=analyzer) == singles
    # other companions, other order: no string's tokens depend on them
    rev = analyze_many(STRINGS[::-1], analyzer=analyzer)
    assert rev == singles[::-1]
    for i, s in enumerate(STRINGS):
        assert analyze_many([s, STRINGS[i - 1]], analyzer=analyzer)[0] == singles[i]


@pytest.mark.parametrize("analyzer", ["standard", "english", "cjk", "url_email",
                                      "folding", "turkish", "greek", "synonym"])
def test_parse_query_cold_warm_and_per_string_equal(analyzer, monkeypatch):
    assert analyzer in ANALYZERS
    # cold, with the memo empty
    Q._MEMO.clear()
    cold = [Q.parse_query(q, mode, analyzer)
            for q in QUERIES for mode in ("OR", "AND")]
    warm = [Q.parse_query(q, mode, analyzer)
            for q in QUERIES for mode in ("OR", "AND")]
    assert warm == cold
    # the unbatched parse: every string analyzed alone
    Q._MEMO.clear()
    monkeypatch.setattr(Q, "analyze_many", lambda texts, analyzer: [
        analyze_one(t, analyzer) for t in texts])
    alone = [Q.parse_query(q, mode, analyzer)
             for q in QUERIES for mode in ("OR", "AND")]
    assert alone == cold
    Q._MEMO.clear()


def test_analysis_memo_is_bounded(monkeypatch):
    monkeypatch.setattr(Q, "ANALYSIS_MEMO_ENTRIES", 3)
    Q._MEMO.clear()
    Q.parse_query("alpha beta gamma delta epsilon")
    assert len(Q._MEMO) == 3
    # evicted words analyze again, with the same result
    assert Q.parse_query("alpha beta") == Q.parse_query("alpha beta")
    Q._MEMO.clear()
