"""Self-test of the benchmark (not of the program).

    python3 perfbench/selftest.py          # generator determinism, page check
    python3 perfbench/selftest.py --runs   # plus two full runs (~2-3 min)

Run from the repository root. Checks:
  1. the same seed gives byte-identical inputs (corpus, NRT batches, query
     mix) for every workload, and another seed gives different ones;
  2. the page checks reject a page with one corrupted score, docid or url,
     and the url check accepts tied scores in another order;
  3. (--runs) a full run with ``--corrupt-page`` exits non-zero with
     ``correct: false``, and both the served-index and the NRT page check
     report a failure, which proves the checks are live; every end-to-end
     metric it prints has BENCHMARK.json's name and unit;
  4. (--runs) a traced run prints every per-layer metric with its declared
     name and unit, and its span file holds a span of every wrapped layer.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SEED = 424242  # not a seed used while tuning the benchmark


def _fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}", file=sys.stderr)
    sys.exit(1)


def check_inputs() -> None:
    import inputs
    from run import _workloads

    for name, spec in _workloads().items():
        a, b = inputs.digest(spec, SEED), inputs.digest(spec, SEED)
        if a != b:
            _fail(f"{name}: same seed gave different inputs")
        if inputs.digest(spec, SEED + 1) == a:
            _fail(f"{name}: another seed gave the same inputs")
        print(f"ok: {name} inputs are a pure function of the seed ({a[:12]})")


def check_page_check() -> None:
    from run import page_matches, url_page_matches

    good = {"docid": [5, 9, 2], "score": [3.5, 2.25, 2.25]}
    if not page_matches(dict(good), good):
        _fail("identical pages do not match")
    for bad in ({"docid": [5, 9, 3], "score": good["score"]},
                {"docid": good["docid"], "score": [3.5, 2.25, 2.2500002]},
                {"docid": [5, 9], "score": [3.5, 2.25]}):
        if page_matches(bad, good):
            _fail(f"corrupted page accepted: {bad}")
    exp = {"url": ["a", "b", "c", "d"], "score": [3.5, 2.25, 2.25, 1.0]}
    if not url_page_matches({"url": ["a", "c", "b"], "score": [3.5, 2.25, 2.25]},
                            exp, k=3, extra=1):
        _fail("tied scores in another order rejected")
    if not url_page_matches({"url": ["a", "e"], "score": [3.5, 2.25]},
                            {"url": ["a", "b"], "score": [3.5, 2.25]}, k=2, extra=0):
        _fail("a url tied with the last oracle hit rejected")
    for bad in ({"url": ["a", "x", "b"], "score": [3.5, 2.25, 2.25]},
                {"url": ["b", "a", "c"], "score": [3.5, 2.25, 2.25]},
                {"url": ["a", "b", "c"], "score": [3.5, 2.25, 2.2500002]},
                {"url": ["a", "b"], "score": [3.5, 2.25]}):
        if url_page_matches(bad, exp, k=3, extra=1):
            _fail(f"corrupted url page accepted: {bad}")
    print("ok: page checks reject a changed docid, url, score or length")


def _run(workload: str, extra: list[str]) -> tuple[int, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "8", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else {}), p.stderr


def _check_units(out: dict, kind: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    printed = {k: v["unit"] for k, v in out["metrics"].items()}
    if printed != declared:
        _fail(f"{kind} metrics differ from BENCHMARK.json: "
              f"{sorted(set(printed.items()) ^ set(declared.items()))}")
    print(f"ok: all {len(declared)} {kind} metrics printed with declared units")


def check_runs() -> None:
    import layers

    rc, out, err = _run("rare_and", ["--trace", "0", "--corrupt-page"])
    if rc == 0 or out.get("correct") is not False or out.get("failed", 0) < 2:
        _fail(f"corrupted expected page did not fail the run (rc={rc}, {out})")
    for check in ("FAILED: resident page != oracle", "FAILED: nrt page != oracle"):
        if check not in err:
            _fail(f"corrupted expected page not reported by {check!r}")
    print(f"ok: corrupted expected page fails the run "
          f"({out['failed']}/{out['attempted']} failed, exit {rc})")
    _check_units(out, "end_to_end")

    rc, out, _ = _run("head_or", ["--trace", "1"])
    if rc != 0 or not out.get("correct"):
        _fail(f"traced run failed (rc={rc})")
    _check_units(out, "per_layer")
    spans = os.path.join(ROOT, ".perfbench_work", f"spans-head_or-{SEED}.jsonl")
    with open(spans) as f:
        seen = {json.loads(line)["name"] for line in f}
    missing = sorted(set(layers.SPAN_NAMES) - seen)
    if missing:
        _fail(f"traced run emitted no span for {missing}")
    print(f"ok: traced run emitted spans for all {len(layers.SPAN_NAMES)} layer entry points")


def main() -> None:
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        _fail("run from the repository root")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    check_inputs()
    check_page_check()
    if "--runs" in sys.argv[1:]:
        check_runs()
    print("selftest passed")


if __name__ == "__main__":
    main()
