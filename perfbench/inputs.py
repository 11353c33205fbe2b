"""Seeded inputs for the benchmark: corpus, NRT micro-batches, query mix.

Everything is a pure function of (workload spec, seed): the same seed gives
byte-identical inputs (``perfbench/selftest.py`` checks it). The program
under test only ever receives the generated corpus/batches as parquet and
the query strings.

The corpus has the ``lucene_solr_spark.corpus.generate_pages`` shape
(Zipf vocabulary, log-normal lengths, ~25% stopwords, ~1% unicode docs).
The query mix is drawn from the corpus's own document-frequency ranks:
head (top terms), mid and rare strata, Zipf-weighted inside each stratum so
popular terms repeat (the searcher's stats cache sees hits).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import generate_pages

_WORD = re.compile(r"^[a-z]+$")


DOCS = 4_000     # bulk corpus pages per run
BATCH_DOCS = 500  # pages per NRT micro-batch
QUERIES = 150    # queries per run (the serving loops cycle through them)


@dataclass(frozen=True)
class Spec:
    """One workload's input shape."""

    batches: int     # NRT micro-batches appended per run
    shapes: tuple    # query shapes (keys of SHAPES), drawn in turn


# Query shapes: name -> (mode, k, list of strata, one per term). "phrase"
# takes an adjacent word pair sampled from the corpus text.
SHAPES = {
    "t1_head": ("OR", 10, ["head"]),
    "t1_mid": ("OR", 10, ["mid"]),
    "t1_rare": ("OR", 10, ["rare"]),
    "or2_head_mid": ("OR", 10, ["head", "mid"]),
    "or2_rare": ("OR", 10, ["rare", "rare"]),
    "or4_head": ("OR", 10, ["head", "head", "mid", "mid"]),
    "or4_mixed": ("OR", 10, ["head", "mid", "mid", "rare"]),
    "and2_head": ("AND", 10, ["head", "head"]),
    "and2_mid": ("AND", 10, ["head", "mid"]),
    "and3": ("AND", 10, ["head", "head", "mid"]),
    "phrase": ("OR", 10, []),
    "top100_head": ("OR", 100, ["head", "mid"]),
}


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def corpus(spec: Spec, seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """(base corpus, NRT batches): one generated page set, split so batch
    urls never collide with base urls."""
    n = DOCS + BATCH_DOCS * spec.batches
    pages = generate_pages(n, seed=seed)[["url", "text"]]
    # generate_pages numbers urls by row; shuffle rows (seeded) so the base
    # and each batch sample the whole url space
    order = _rng(seed, "split").permutation(n)
    pages = pages.iloc[order].reset_index(drop=True)
    base = pages.iloc[:DOCS].reset_index(drop=True)
    batches = [
        pages.iloc[DOCS + i * BATCH_DOCS: DOCS + (i + 1) * BATCH_DOCS]
        .reset_index(drop=True)
        for i in range(spec.batches)
    ]
    return base, batches


def _doc_freqs(texts: pd.Series) -> list[tuple[str, int]]:
    df: Counter = Counter()
    for t in texts:
        df.update(set(t.lower().split()))
    return sorted(
        ((w, c) for w, c in df.items()
         if _WORD.match(w) and w not in ENGLISH_STOP_WORDS),
        key=lambda wc: (-wc[1], wc[0]),
    )


def _zipf_pick(rng: np.random.Generator, items: list, size: int) -> list:
    w = 1.0 / np.arange(1, len(items) + 1) ** 1.1
    idx = rng.choice(len(items), size=size, p=w / w.sum())
    return [items[i] for i in idx]


def query_mix(spec: Spec, seed: int, base: pd.DataFrame) -> list[dict]:
    """QUERIES queries {"q", "mode", "k", "shape"}: the workload's shapes in
    turn, uniformly (the same sequence for every seed, so a short run always
    sees every shape); terms are Zipf-drawn per stratum, so they repeat."""
    rng = _rng(seed, "queries")
    freqs = _doc_freqs(base["text"])
    ranked = [w for w, _ in freqs]
    dfs = dict(freqs)
    n = len(ranked)
    strata = {
        "head": ranked[:40],
        "mid": ranked[200: min(n, 1500)],
        "rare": [w for w in ranked if 2 <= dfs[w] <= 12][:800],
    }
    for name, words in strata.items():
        if len(words) < 8:
            raise ValueError(f"corpus too small for the {name!r} stratum")
    # phrases: adjacent non-stop word pairs taken from seeded docs
    phrases = []
    for i in rng.choice(len(base), size=200, replace=False):
        toks = base["text"].iloc[int(i)].lower().split()
        for a, b in zip(toks, toks[1:]):
            if (_WORD.match(a) and _WORD.match(b) and a not in ENGLISH_STOP_WORDS
                    and b not in ENGLISH_STOP_WORDS and a != b):
                phrases.append(f'"{a} {b}"')
                break
    schedule = [spec.shapes[j % len(spec.shapes)] for j in range(QUERIES)]
    # per-stratum Zipf streams, drawn up front so the mix is reproducible
    pools = {k: _zipf_pick(rng, v, QUERIES * 4) for k, v in strata.items()}
    cursor = {k: 0 for k in pools}
    phrase_pool = _zipf_pick(rng, phrases, QUERIES)
    out = []
    for j, shape in enumerate(schedule):
        mode, k, need = SHAPES[shape]
        if shape == "phrase":
            q = phrase_pool[j]
        else:
            terms: list[str] = []
            for stratum in need:
                while True:
                    t = pools[stratum][cursor[stratum] % len(pools[stratum])]
                    cursor[stratum] += 1
                    if t not in terms:
                        break
                terms.append(t)
            q = " ".join(terms)
        out.append({"q": q, "mode": mode, "k": k, "shape": shape})
    return out


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int = 8) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(pdf) // n_files))
    for i in range(0, len(pdf), step):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i: i + step], preserve_index=False),
            os.path.join(path, f"part-{i // step:04d}.parquet"),
        )


def digest(spec: Spec, seed: int) -> str:
    """sha256 over every generated input (corpus, batches, queries)."""
    base, batches = corpus(spec, seed)
    h = hashlib.sha256()
    for pdf in [base, *batches]:
        for col in ("url", "text"):
            h.update("\x00".join(pdf[col]).encode())
    h.update(json.dumps(query_mix(spec, seed, base), sort_keys=True).encode())
    return h.hexdigest()
