"""KStem: pinned reference-verified stems + a fuzz subset vs the
compiled en/KStemmer (tools/fuzz_kstem.py; the 15k-word campaign —
lexicon words, suffixed derivations, doubled consonants, randoms —
passed byte-identical on the first run)."""

import subprocess
import sys

import pytest

from lucene_solr_spark.analysis import analyze_one
from lucene_solr_spark.analysis.kstem import kstem
from lucene_solr_spark.analysis.kstemdata import KSTEM_WORDS


def test_lexicon_size():
    assert len(KSTEM_WORDS) == 27495


def test_pinned_stems():
    # values produced by the compiled reference KStemmer
    assert kstem("calories") == "calorie"
    assert kstem("policies") == "policy"
    assert kstem("defined") == "define"
    assert kstem("amplification") == "amplify"
    assert kstem("injunctive") == "injunction"
    assert kstem("bibliographical") == "bibliography"
    assert kstem("compensable") == "compensate"
    assert kstem("generosity") == "generous"   # direct conflation
    assert kstem("italians") == "italy"        # country/nationality
    assert kstem("died") == "die"              # direct conflation
    # lexicon headwords stay (the dictionary check precedes the rules)
    assert kstem("running") == "running"
    assert kstem("flies") == "flies"
    # exception words: dict hit with root = themselves
    assert kstem("programme") == "programme"
    # short / non-alpha / over-long words pass through
    assert kstem("ab") == "ab"
    assert kstem("can't") == "can't"
    assert kstem("x" * 60) == "x" * 60


def test_analyzer_chain():
    toks = analyze_one("IT's consultations and defined policies",
                       analyzer="english_kstem")
    # possessive strips BEFORE stop ("IT's" -> it -> stopped)
    assert toks == [("consultation", 1), ("define", 3), ("policy", 4)]


@pytest.mark.reference_oracle
def test_fuzz_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_kstem.py", "400"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "OK" in proc.stdout, proc.stdout
