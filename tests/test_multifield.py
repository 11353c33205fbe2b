"""Multi-field postings + edismax qf: namespaced dictionary runs, per-field
norms/avgdl/idf, DisMax-over-fields scoring (ExtendedDismaxQParser.java:60-120,
schema.xml:126-150, Term.java:33-41)."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from tests.conftest import CACHE


@pytest.fixture(scope="module")
def mf_index(spark, pages_small):
    """Two-field index: text + title (first two words of text)."""
    from lucene_solr_spark.index.build import build_index

    pages = pages_small.copy()
    pages["title"] = pages["text"].str.split(" ").str[:2].str.join(" ")
    idx = os.path.join(CACHE, "test_index_multifield")
    shutil.rmtree(idx, ignore_errors=True)
    sdf = spark.createDataFrame(pages[["url", "text", "title"]])
    man = build_index(spark, sdf, idx, num_segments=3, build_id="mf0",
                      extra_fields={"title": "title"})
    return idx, man, pages


@pytest.fixture(scope="module")
def mf_searcher(spark, mf_index):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _, _ = mf_index
    return SparkSearcher(spark, idx)


def test_multifield_merge_equals_build(spark, mf_index, tmp_path):
    """A force-merged copy of the multi-field index equals a fresh build
    of the same docs, text and title field alike (per-field norms and
    block-max bytes)."""
    from lucene_solr_spark.index.merge import force_merge
    from tests.test_merge import assert_merged_segments_equal_builds

    idx, _, pages = mf_index
    copy = os.path.join(CACHE, "test_index_multifield_merged")
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(idx, copy)
    force_merge(spark, copy, max_segments=1)
    assert_merged_segments_equal_builds(copy, pages, str(tmp_path),
                                        extra_fields=("title",))


def test_checkindex_multifield(mf_index):
    from lucene_solr_spark.index.check import check_index

    idx, _, _ = mf_index
    rep = check_index(idx)
    assert rep["total_docs"] == 2000


def test_default_field_search_unchanged(spark, mf_searcher, small_index):
    """search() on the multi-field index == search() on the single-field
    index (the text field's postings/norms are byte-identical)."""
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    base = SparkSearcher(spark, idx)
    a = mf_searcher.search_pdf("babe roro", k=10)
    b = base.search_pdf("babe roro", k=10)
    np.testing.assert_array_equal(a["docid"].to_numpy(), b["docid"].to_numpy())
    np.testing.assert_array_equal(
        a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
    )


def test_dictionary_components_exclude_extra_fields(mf_searcher):
    """terms()/suggest/spellcheck/wildcard expansion never surface
    namespaced title terms."""
    from lucene_solr_spark.index.build import FIELD_SEP

    for df in (
        mf_searcher.terms(limit=10_000).toPandas(),
        mf_searcher.suggest("b", 10_000).toPandas(),
        mf_searcher.spellcheck("babe", 10_000).toPandas(),
    ):
        assert not df["term"].str.contains(FIELD_SEP, regex=False).any()
    assert not any(FIELD_SEP in t for t in mf_searcher.expand_wildcard("*a*"))
    assert not any(FIELD_SEP in t for t, _ in mf_searcher.expand_fuzzy("babe", 2,
                                                                       10_000))


def _brute_edismax(pages, query_terms, qf, tie, k):
    """Independent float32 edismax oracle over analyzer token relations."""
    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search import bm25

    urls = pages["url"].to_numpy()
    docid_by_pos = np.empty(len(urls), np.int64)
    docid_by_pos[np.argsort(urls)] = np.arange(len(urls))
    n_docs = len(pages)

    per_field = {}
    for field, col in (("text", "text"), ("title", "title")):
        flat = tokenize_series(pages[col])
        lengths = flat.attrs["doc_lengths"]
        norm_bytes = bm25.encode_norm(lengths)
        # reorder to docid order
        nb = np.empty(n_docs, np.uint8)
        nb[docid_by_pos] = norm_bytes
        flat = flat.assign(docid=docid_by_pos[flat["doc_idx"].to_numpy()])
        tf = (
            flat[flat["term"].isin(query_terms)]
            .groupby(["term", "docid"], observed=True)
            .size()
        )
        df = (
            flat[flat["term"].isin(query_terms)]
            .groupby("term", observed=True)["docid"].nunique()
        )
        cache = bm25.norm_cache(
            bm25.avg_field_length(int(lengths.sum()), n_docs)
        )
        per_field[field] = (tf, df, nb, cache)

    scores = {}
    for d in range(n_docs):
        total = np.float32(0.0)
        matched = False
        for t in query_terms:
            best = np.float32(0.0)
            ssum = np.float32(0.0)
            for f in qf:
                tf, dfm, nb, cache = per_field[f]
                freq = int(tf.get((t, d), 0))
                if freq == 0:
                    continue
                wv = bm25.weight_value(
                    bm25.idf(int(dfm.get(t, 0)), n_docs), boost=qf[f]
                )
                s = bm25.score_freqs(
                    np.array([freq]), np.array([nb[d]]), cache, wv
                )[0]
                ssum = np.float32(ssum + s)
                best = max(best, s)
                matched = True
            contrib = np.float32(best + np.float32(np.float32(tie) * np.float32(ssum - best)))
            total = np.float32(total + contrib)
        if matched:
            scores[d] = total
    order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return order


def test_edismax_matches_brute_force(mf_searcher, mf_index):
    _, _, pages = mf_index
    qf = {"text": 1.0, "title": 2.5}
    got = mf_searcher.edismax("babe roro", qf=qf, tie=0.2, k=15).toPandas()
    exp = _brute_edismax(pages, ["babe", "roro"], qf, 0.2, 15)
    np.testing.assert_array_equal(
        got["docid"].to_numpy(), np.array([d for d, _ in exp])
    )
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32),
        np.array([s for _, s in exp], np.float32),
    )


def test_edismax_title_boost_changes_ranking(mf_searcher):
    """A big title boost must be able to reorder results vs text-only."""
    text_only = mf_searcher.edismax("babe", qf={"text": 1.0}, k=2000).toPandas()
    boosted = mf_searcher.edismax("babe", qf={"text": 1.0, "title": 50.0},
                                  k=2000).toPandas()
    assert set(text_only["docid"]) == set(boosted["docid"])  # same match set
    assert list(text_only["docid"]) != list(boosted["docid"])  # new order


def test_edismax_single_field_equals_search(mf_searcher):
    """edismax(qf={'text':1.0}, tie=0) degenerates to plain BM25 search."""
    a = mf_searcher.edismax("babe roro", qf={"text": 1.0}, k=10).toPandas()
    b = mf_searcher.search_pdf("babe roro", k=10)
    np.testing.assert_array_equal(a["docid"].to_numpy(), b["docid"].to_numpy())
    np.testing.assert_array_equal(
        a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
    )


def test_edismax_pf_phrase_boost(mf_searcher, mf_index):
    """pf adds the per-field exact-phrase score (weight = field idf sum *
    boost) on top of the qf score; docs without the phrase are unchanged."""
    import numpy as np

    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search import bm25

    _, _, pages = mf_index
    qf = {"text": 1.0}
    base = mf_searcher.edismax("babe roro", qf=qf, k=3000).toPandas()
    boosted = mf_searcher.edismax("babe roro", qf=qf, k=3000,
                                  pf={"text": 2.0}).toPandas()
    b_map = dict(zip(base["docid"].astype(int),
                     base["score"].astype(np.float32)))
    g_map = dict(zip(boosted["docid"].astype(int),
                     boosted["score"].astype(np.float32)))
    assert set(b_map) == set(g_map)

    # independent phrase occurrence check per doc
    urls = pages["url"].to_numpy()
    docid_by_pos = np.empty(len(urls), np.int64)
    docid_by_pos[np.argsort(urls)] = np.arange(len(urls))
    flat = tokenize_series(pages["text"])
    flat = flat.assign(docid=docid_by_pos[flat["doc_idx"].to_numpy()])
    has_phrase = set()
    for d, g in flat[flat["term"].isin(["babe", "roro"])].groupby("docid"):
        a = np.sort(g[g["term"] == "babe"]["pos"].to_numpy())
        b = np.sort(g[g["term"] == "roro"]["pos"].to_numpy())
        if len(a) and len(b) and np.isin(a + 1, b).any():
            has_phrase.add(int(d))
    changed = {d for d in b_map if g_map[d] != b_map[d]}
    assert changed == (has_phrase & set(b_map))
    assert all(g_map[d] > b_map[d] for d in changed)


def test_edismax_pf_single_term_noop(mf_searcher):
    import numpy as np

    a = mf_searcher.edismax("babe", qf={"text": 1.0}, k=10).toPandas()
    b = mf_searcher.edismax("babe", qf={"text": 1.0}, k=10,
                            pf={"text": 9.0}).toPandas()
    np.testing.assert_array_equal(a["docid"].to_numpy(), b["docid"].to_numpy())
    np.testing.assert_array_equal(
        a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
    )


def test_edismax_ps_sloppy_boost(mf_searcher, mf_index):
    """ps applies slop to the pf phrase (ExtendedDismaxQParser ps): the
    set of boosted docs is exactly the set with a sloppy window
    (sequential kernel as independent oracle), a superset of exact-pf."""
    import numpy as np

    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search.sloppy import sloppy_phrase_freq

    _, _, pages = mf_index
    qf = {"text": 1.0}
    base = mf_searcher.edismax("babe roro", qf=qf, k=3000).toPandas()
    boosted = mf_searcher.edismax("babe roro", qf=qf, k=3000,
                                  pf={"text": 2.0}, ps=2).toPandas()
    b_map = dict(zip(base["docid"].astype(int),
                     base["score"].astype(np.float32)))
    g_map = dict(zip(boosted["docid"].astype(int),
                     boosted["score"].astype(np.float32)))
    assert set(b_map) == set(g_map)

    urls = pages["url"].to_numpy()
    docid_by_pos = np.empty(len(urls), np.int64)
    docid_by_pos[np.argsort(urls)] = np.arange(len(urls))
    flat = tokenize_series(pages["text"])
    flat = flat.assign(docid=docid_by_pos[flat["doc_idx"].to_numpy()])
    has_sloppy = set()
    for d, g in flat[flat["term"].isin(["babe", "roro"])].groupby("docid"):
        a = np.sort(g[g["term"] == "babe"]["pos"].to_numpy())
        b = np.sort(g[g["term"] == "roro"]["pos"].to_numpy())
        if (len(a) and len(b)
                and sloppy_phrase_freq([a, b], [0, 1], 2,
                                       terms=["babe", "roro"]) > 0):
            has_sloppy.add(int(d))
    changed = {d for d in b_map if g_map[d] != b_map[d]}
    assert changed == (has_sloppy & set(b_map))
    assert all(g_map[d] > b_map[d] for d in changed)


def test_multifield_merge_preserves_fields(spark, mf_index):
    """force_merge on a multi-field index: per-field norms travel, the
    merged index passes CheckIndex, and edismax results are rank- and
    score-identical before/after."""
    import numpy as np

    from lucene_solr_spark.index.check import check_index
    from lucene_solr_spark.index.merge import force_merge
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _, _ = mf_index
    before = SparkSearcher(spark, idx).edismax(
        "babe roro", qf={"text": 1.0, "title": 3.0}, tie=0.2, k=20,
        pf={"title": 2.0},
    ).toPandas()
    force_merge(spark, idx)
    check_index(idx)
    after = SparkSearcher(spark, idx).edismax(
        "babe roro", qf={"text": 1.0, "title": 3.0}, tie=0.2, k=20,
        pf={"title": 2.0},
    ).toPandas()
    np.testing.assert_array_equal(
        before["docid"].to_numpy(), after["docid"].to_numpy()
    )
    np.testing.assert_array_equal(
        before["score"].to_numpy(np.float32),
        after["score"].to_numpy(np.float32),
    )


def test_multifield_nrt_append(spark, pages_small):
    """NRT append on a multi-field index: the manifest records the field
    schema, appended segments carry per-field norms, edismax sees new docs."""
    import numpy as np

    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.index.check import check_index
    from lucene_solr_spark.search.engine import SparkSearcher
    from lucene_solr_spark.streaming.incremental import append_batch

    pages = pages_small.copy()
    pages["title"] = pages["text"].str.split(" ").str[:2].str.join(" ")
    idx = os.path.join(CACHE, "test_index_mf_nrt")
    shutil.rmtree(idx, ignore_errors=True)
    base = pages.iloc[:1500]
    batch = pages.iloc[1500:1600]
    build_index(
        spark, spark.createDataFrame(base[["url", "text", "title"]]), idx,
        num_segments=2, build_id="mfn", extra_fields={"title": "title"},
    )
    append_batch(
        spark, spark.createDataFrame(batch[["url", "text", "title"]]), idx, 1,
        num_segments=1,
    )
    check_index(idx)
    s = SparkSearcher(spark, idx)
    assert s.max_doc == 1600
    res = s.edismax("babe", qf={"text": 1.0, "title": 5.0}, k=2000).toPandas()
    assert len(res) > 0
    # every doc containing 'babe' in either field is found, incl. appended
    from lucene_solr_spark.analysis import tokenize_series

    urls = np.concatenate([base["url"].to_numpy(), batch["url"].to_numpy()])
    # docids: base sorted-url rank 0..1499, appended batch continues in
    # its own sorted order at 1500
    def ranks(arr, off):
        r = np.empty(len(arr), np.int64)
        r[np.argsort(arr)] = np.arange(len(arr))
        return r + off

    docids = np.concatenate([ranks(base["url"].to_numpy(), 0),
                             ranks(batch["url"].to_numpy(), 1500)])
    texts = np.concatenate([
        (base["text"] + " " + base["title"]).to_numpy(),
        (batch["text"] + " " + batch["title"]).to_numpy(),
    ])
    has = {int(d) for d, t in zip(docids, texts) if "babe" in t.split()}
    assert set(res["docid"].astype(int)) == has
    assert any(int(d) >= 1500 for d in res["docid"])


def test_heterogeneous_merge_aligns_field_norms(spark, pages_small):
    """Merging a single-field segment with multi-field segments keeps
    per-field norms doc-aligned (field-less ranges get zero norms)."""
    import numpy as np

    from lucene_solr_spark.index import manifest as mf
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.index.check import check_index
    from lucene_solr_spark.index.merge import force_merge
    from lucene_solr_spark.search.engine import SparkSearcher
    from lucene_solr_spark.streaming.incremental import append_batch

    pages = pages_small.copy()
    pages["title"] = pages["text"].str.split(" ").str[:2].str.join(" ")
    idx = os.path.join(CACHE, "test_index_mf_hetero")
    shutil.rmtree(idx, ignore_errors=True)
    # single-field base (docids 0..799)...
    build_index(spark, spark.createDataFrame(pages.iloc[:800][["url", "text"]]),
                idx, num_segments=2, build_id="het")
    # ...then multi-field appends (the manifest upgrade: record the schema)
    man = mf.read_current(idx)
    mf.commit(idx, man["segments"],
              extra={"build_id": "het", "analyzer": "standard",
                     "extra_fields": {"title": "title"}})
    append_batch(
        spark,
        spark.createDataFrame(pages.iloc[800:1000][["url", "text", "title"]]),
        idx, 1, num_segments=1,
    )
    s0 = SparkSearcher(spark, idx)
    before = s0.edismax("babe", qf={"text": 1.0, "title": 9.0},
                        k=2000).toPandas()
    force_merge(spark, idx)
    check_index(idx)
    s1 = SparkSearcher(spark, idx)
    after = s1.edismax("babe", qf={"text": 1.0, "title": 9.0},
                       k=2000).toPandas()
    np.testing.assert_array_equal(
        before["docid"].to_numpy(), after["docid"].to_numpy()
    )
    np.testing.assert_array_equal(
        before["score"].to_numpy(np.float32),
        after["score"].to_numpy(np.float32),
    )
