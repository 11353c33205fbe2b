"""Expected result pages from the reference oracle, in its own process.

    python3 perfbench/oracle_pages.py OUT_JSON QUERIES_JSON EXTRA CORPUS_DIR...

Reads the generated corpus (one or more parquet directories, concatenated)
and query list, runs every distinct query through
``lucene_solr_spark.oracle.searcher.OracleSearcher`` (the brute-force BM25
reference) for ``k + EXTRA`` hits and writes {key: {"docid": [...], "url":
[...], "score": [...]}}. It runs beside the benchmark's warm-up so the
oracle's CPU and memory never land in the measured program's time or peak
RSS.
"""

from __future__ import annotations

import json
import os
import sys


def page_key(q: dict) -> str:
    return f'{q["mode"]}|{q["k"]}|{q["q"]}'


def main(out_json: str, queries_json: str, extra: str, *corpus_dirs: str) -> None:
    import pandas as pd

    from lucene_solr_spark.oracle.searcher import OracleSearcher

    pages = pd.concat([pd.read_parquet(d) for d in corpus_dirs], ignore_index=True)
    with open(queries_json) as f:
        queries = json.load(f)
    oracle = OracleSearcher(pages)
    out = {}
    for q in queries:
        key = page_key(q)
        if key in out:
            continue
        r = oracle.search(q["q"], k=q["k"] + int(extra), mode=q["mode"])
        out[key] = {
            "docid": [int(d) for d in r["docid"]],
            "url": [str(u) for u in r["url"]],
            "score": [float(s) for s in r["score"]],
        }
    tmp = out_json + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, out_json)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main(*sys.argv[1:])
