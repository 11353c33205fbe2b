"""Dictionary-free kuromoji components: pinned reference-verified
samples + a fuzz subset vs the compiled JapaneseIterationMarkCharFilter
/ JapaneseKatakanaStemFilter (tools/fuzz_ja.py; the full campaign —
20k+ lines across kanji/kana mode combinations — passed 0 mismatches,
including an 800-line COMPOSED run of compiled filter + CJKAnalyzer
matching the cjk_ja analyzer exactly).

The JapaneseTokenizer itself is environment-blocked: the reference
checkout ships kuromoji without TokenInfoDictionary$buffer.dat, so its
own JapaneseAnalyzer cannot start (analysis/japanese.py docstring)."""

import subprocess
import sys

import pytest

from lucene_solr_spark.analysis import analyze_one
from lucene_solr_spark.analysis.japanese import (
    iteration_mark_normalize, katakana_stem)


def test_iteration_mark_pinned():
    # values verified against the compiled reference filter
    assert iteration_mark_normalize("時々") == "時時"
    assert iteration_mark_normalize("こゝろ") == "こころ"
    assert iteration_mark_normalize("みすゞ") == "みすず"
    assert iteration_mark_normalize("ほゞ") == "ほぼ"
    # multi-mark span repeats the last spanSize chars
    assert iteration_mark_normalize("馬鹿々々しい") == "馬鹿馬鹿しい"
    assert iteration_mark_normalize("学生々々") == "学生学生"
    # marks at stream start are illegal and emitted as-is
    assert iteration_mark_normalize("々あ") == "々あ"
    assert iteration_mark_normalize("ゝ") == "ゝ"
    # the span is restricted to the one available source char; the
    # second mark then starts where the previous span ended, which is
    # illegal and emitted as-is
    assert iteration_mark_normalize("さゝゝ") == "ささゝ"
    # full stop resets the span window
    assert iteration_mark_normalize("時々。々") == "時時。々"
    # bug-for-bug: no-variant table rows map to themselves, so the
    # devoicing mark subtracts 1 from them (ナヽ -> ナド)
    assert iteration_mark_normalize("バナヽ") == "バナド"
    # kanji-only / kana-only modes
    assert iteration_mark_normalize("時々こゝ", normalize_kana=False) \
        == "時時こゝ"
    assert iteration_mark_normalize("時々こゝ", normalize_kanji=False) \
        == "時々ここ"


def test_katakana_stem_pinned():
    assert katakana_stem("コンピューター") == "コンピュータ"
    assert katakana_stem("サーバー") == "サーバ"
    assert katakana_stem("データー") == "データ"
    # below minimum length 4: untouched
    assert katakana_stem("コピー") == "コピー"
    assert katakana_stem("ター") == "ター"
    # mixed-script terms untouched
    assert katakana_stem("abcー") == "abcー"
    assert katakana_stem("データa") == "データa"


def test_cjk_ja_analyzer():
    assert analyze_one("時々 index こゝろ", analyzer="cjk_ja") == [
        ("時時", 0), ("index", 1), ("ここ", 2), ("ころ", 3)]
    # without the char filter the marks bigram as raw chars
    assert analyze_one("こゝろ", analyzer="cjk") == [
        ("こゝ", 0), ("ゝろ", 1)]


@pytest.mark.reference_oracle
def test_fuzz_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_ja.py", "250"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    oks = [l for l in proc.stdout.splitlines() if l.endswith("OK")]
    assert len(oks) == 4, proc.stdout  # 3 iteration modes + stem
