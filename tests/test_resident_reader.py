"""Process-wide resident segment readers behind search_resident: each
segment's postings file is read once and shared by every searcher of the
process. Pages must stay equal to the Spark path's across a rebuild at the
same path, a phrase after position-free queries, a tiny byte budget and
an NRT reopen, which must read only the segments it has not seen."""

from __future__ import annotations

import os
import shutil

import numpy as np

from tests.conftest import CACHE

QUERIES = [
    dict(query="babe roro", k=10),
    dict(query="+babe +roro", k=50),
    dict(query='"babe roro"', k=10),
    dict(query="babe -roro", k=20),
    dict(query="ro* babaso", k=10),
]


def _build(spark, pages, idx, nseg):
    from lucene_solr_spark.index.build import build_index

    shutil.rmtree(idx, ignore_errors=True)
    sdf = spark.createDataFrame(pages[["url", "text"]])
    return build_index(spark, sdf, idx, num_segments=nseg, build_id="r0")


def _assert_pages_equal(s, queries=QUERIES):
    for kw in queries:
        a = s.search_resident(**kw)
        b = s.search_pdf(**kw)
        assert list(a["docid"]) == list(b["docid"]), kw
        np.testing.assert_array_equal(
            a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32),
            err_msg=str(kw),
        )


def _count_reads(monkeypatch):
    from lucene_solr_spark.search.engine import SparkSearcher

    reads = []
    orig = SparkSearcher._read_seg_postings

    def counted(self, seg_dir, need_pos):
        reads.append((os.path.basename(seg_dir), need_pos))
        return orig(self, seg_dir, need_pos)

    monkeypatch.setattr(SparkSearcher, "_read_seg_postings", counted)
    return reads


def test_resident_reader_rebuilt_index_same_path(spark, pages_small):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx = os.path.join(CACHE, "idx_resident_rebuild")
    _build(spark, pages_small.iloc[:700], idx, 3)
    before = SparkSearcher(spark, idx).search_resident("babe roro", k=10)
    _build(spark, pages_small.iloc[700:1600], idx, 3)
    s = SparkSearcher(spark, idx)
    assert s.max_doc == 900
    _assert_pages_equal(s)
    after = s.search_resident("babe roro", k=10)
    assert list(after["docid"]) != list(before["docid"])


def test_resident_reader_phrase_after_position_free_queries(
        spark, small_index, monkeypatch):
    from lucene_solr_spark.search import engine

    monkeypatch.setattr(engine, "_READERS", type(engine._READERS)())
    reads = _count_reads(monkeypatch)
    idx, man = small_index
    s = engine.SparkSearcher(spark, idx)
    s.search_resident("babe roro", k=10)
    s.search_resident("+babe +babaso", k=10)
    assert {p for _, p in reads} == {False}
    # the first phrase loads positions once per segment, into the rows
    # the position-free queries already built
    _assert_pages_equal(s, [dict(query='"babe roro"', k=10),
                            dict(query='"babe roro"~3 babaso', k=10)])
    nseg = len(man["segments"])
    assert len(reads) == 2 * nseg
    assert sorted(p for _, p in reads) == [False] * nseg + [True] * nseg
    _assert_pages_equal(engine.SparkSearcher(spark, idx))
    assert len(reads) == 2 * nseg  # every searcher shares the readers


def test_resident_reader_tiny_byte_budget(spark, small_index, monkeypatch):
    from lucene_solr_spark.search import engine

    monkeypatch.setattr(engine, "RESIDENT_READER_BYTES", 1)
    monkeypatch.setattr(engine, "_READERS", type(engine._READERS)())
    reads = _count_reads(monkeypatch)
    idx, man = small_index
    s = engine.SparkSearcher(spark, idx)
    _assert_pages_equal(s)
    assert len(engine._READERS) == 1  # only the last reader stays
    # every query reopens the evicted segments
    assert len(reads) >= len(QUERIES) * (len(man["segments"]) - 1)


def test_resident_reader_budget_evicts_least_recently_used(
        spark, small_index, monkeypatch):
    from lucene_solr_spark.search import engine

    monkeypatch.setattr(engine, "_READERS", type(engine._READERS)())
    idx, man = small_index
    s = engine.SparkSearcher(spark, idx)
    s.search_resident("babe roro", k=10)
    sizes = [r.nbytes for r in engine._READERS.values()]
    assert len(sizes) == len(man["segments"]) and min(sizes) > 0
    # room for all but the first segment: the least recently used goes
    monkeypatch.setattr(engine, "RESIDENT_READER_BYTES", sum(sizes) - 1)
    first = next(iter(engine._READERS))
    engine._trim_readers()
    assert first not in engine._READERS
    assert len(engine._READERS) == len(sizes) - 1


def test_resident_reader_nrt_reopen_reads_only_new_segments(
        spark, pages_small, monkeypatch):
    from lucene_solr_spark.index import manifest
    from lucene_solr_spark.search.engine import SparkSearcher
    from lucene_solr_spark.streaming.incremental import append_batch

    idx = os.path.join(CACHE, "idx_resident_nrt")
    _build(spark, pages_small.iloc[:1200], idx, 3)
    reads = _count_reads(monkeypatch)
    _assert_pages_equal(SparkSearcher(spark, idx))
    old = {s["path"] for s in manifest.read_current(idx)["segments"]}
    batch = pages_small.iloc[1200:1500]
    append_batch(spark, spark.createDataFrame(batch[["url", "text"]]), idx, 1,
                 num_segments=2)
    new = [s for s in manifest.read_current(idx)["segments"]
           if s["path"] not in old]
    assert len(new) == 2
    del reads[:]
    s = SparkSearcher(spark, idx)
    _assert_pages_equal(s)
    assert s.max_doc == 1500
    assert {d for d, _ in reads} == {os.path.basename(p["path"].rstrip("/"))
                                     for p in new}


def test_resident_reader_concurrent_queries(spark, small_index, monkeypatch):
    """Eight threads share cold readers: phrase queries that load a
    segment's positions race position-free queries that build rows of the
    same terms; every page must still equal the Spark path's."""
    import sys
    import threading

    from lucene_solr_spark.search import engine

    idx, _ = small_index
    s = engine.SparkSearcher(spark, idx)
    words = s.expand_wildcard_resident("b*")[:64]
    queries = []
    for j in range(8):
        ws = words[j * 8:(j + 1) * 8]
        queries.append(dict(query=" ".join(ws), k=10))
        phrases = (f'"{a} {b}"' for a, b in zip(ws, ws[1:]))
        queries.append(dict(query=" ".join(phrases), k=10))
    expected = [s.search_pdf(**kw) for kw in queries]
    monkeypatch.setattr(engine, "_READERS", type(engine._READERS)())
    s = engine.SparkSearcher(spark, idx)
    pages, errors = [], []

    def worker(j):
        try:
            for i in (2 * j, 2 * j + 1, (2 * j + 3) % len(queries)):
                pages.append((i, s.search_resident(**queries[i])))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(j,)) for j in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(pages) == 24
    for i, page in pages:
        assert list(page["docid"]) == list(expected[i]["docid"]), queries[i]
        np.testing.assert_array_equal(page["score"].to_numpy(np.float32),
                                      expected[i]["score"].to_numpy(np.float32))
