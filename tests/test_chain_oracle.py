"""Whole-analyzer-chain differential oracle sample (VERDICT-r4 item 3):
compile each reference {Language}Analyzer with javac and compare FULL
(term, position) token streams against tokenize_series — tokenizer,
elision/normalization, stop position, stemmer and posInc bookkeeping
together. tools/fuzz_chain.py is the full campaign; this is the pinned
per-language sample that runs in CI.
"""
from __future__ import annotations

import random

import pytest

import tools.fuzz_chain as fc

pytestmark = pytest.mark.reference_oracle

N_LINES = 25


@pytest.fixture(scope="module")
def classes():
    return fc.ensure_oracle()


@pytest.mark.parametrize(
    "fqcn,py_name,extras", fc.LANGS, ids=[x[1] for x in fc.LANGS]
)
def test_chain_parity_sample(classes, fqcn, py_name, extras):
    from lucene_solr_spark.analysis.light import LIGHT_STOPWORDS
    from lucene_solr_spark.analysis.snowball import SNOWBALL_STOPWORDS
    from lucene_solr_spark.analysis.text import ENGLISH_STOP_WORDS

    stops = (SNOWBALL_STOPWORDS.get(py_name)
             or LIGHT_STOPWORDS.get(py_name) or ENGLISH_STOP_WORDS)
    rng = random.Random(hash(py_name) & 0xFFFF)
    lines = fc.gen_lines(py_name, extras, N_LINES, rng, stops)
    expected = [fc.parse_stream(x)
                for x in fc.run_java(classes, fqcn, lines)]
    for line, exp in zip(lines, expected):
        got = fc.py_stream(line, py_name)
        assert got == exp, f"{py_name}: {line!r}\n py={got}\n java={exp}"
