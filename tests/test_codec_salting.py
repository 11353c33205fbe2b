"""Salted (chunked) head-term encoding: independently-encoded docid-range
chunks stitch into a byte-compatible posting row (the merge-time skew
escape hatch described in SCALE.md), plus hypothesis property tests for
the codec and minifloat kernels."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.index import codec
from lucene_solr_spark.search import bm25


def _random_postings(rng, df, max_doc):
    docids = np.sort(rng.choice(max_doc, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 200, size=df).astype(np.int64)
    positions = [np.sort(rng.choice(5000, size=tf, replace=False)) for tf in tfs]
    return docids, tfs, np.concatenate(positions)


@pytest.mark.parametrize("df,n_chunks", [(1000, 2), (4096, 4), (300, 3), (129, 2)])
def test_salted_chunks_decode_identically(df, n_chunks):
    rng = np.random.default_rng(df)
    docids, tfs, posflat = _random_postings(rng, df, df * 5)
    norms = rng.integers(80, 140, df * 5).astype(np.uint8)

    mono = codec.encode_term_postings(docids, tfs, norms, posflat)

    # split by docid range into chunks, encode independently, stitch
    cuts = np.linspace(0, df, n_chunks + 1).astype(int)
    tf_ends = np.cumsum(tfs)
    tf_starts = tf_ends - tfs
    chunks = []
    for i in range(n_chunks):
        lo, hi = cuts[i], cuts[i + 1]
        base = -1 if lo == 0 else int(docids[lo - 1])
        p0 = tf_starts[lo]
        p1 = tf_ends[hi - 1]
        chunks.append(
            codec.encode_term_chunk(
                docids[lo:hi], tfs[lo:hi], base, norms, posflat[p0:p1]
            )
        )
    stitched = codec.stitch_term_chunks(chunks)

    assert stitched["df"] == mono["df"] and stitched["ttf"] == mono["ttf"]
    d, t = codec.decode_blocks(
        stitched["blocks"], stitched["df"], stitched["skip_off"], stitched["skip_last"]
    )
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    # chunk boundaries break the 128-block grid, so skip arrays differ from
    # the monolithic encode; what must hold: every block's metadata is
    # self-consistent and selective decode works
    nblocks = len(stitched["skip_last"])
    for bi in range(nblocks):
        db, tb = codec.decode_blocks(
            stitched["blocks"], stitched["df"], stitched["skip_off"],
            stitched["skip_last"], np.array([bi]),
        )
        assert db[-1] == stitched["skip_last"][bi]
        assert tb.max() == stitched["skip_max_tf"][bi]
        assert norms[db].max() == stitched["skip_max_norm"][bi]
        pls = codec.decode_positions_for_block(
            stitched["positions"], tb, stitched["skip_pos_off"][bi]
        )
        sel = np.searchsorted(docids, db)
        for j, pl in enumerate(pls):
            np.testing.assert_array_equal(
                pl, posflat[tf_starts[sel[j]] : tf_ends[sel[j]]]
            )


@given(
    st.lists(st.integers(0, 1 << 50), min_size=0, max_size=300),
)
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip_property(vals):
    v = np.array(vals, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(v), count=len(v)) if len(v) else []
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int64), v.astype(np.int64))


@given(st.integers(1, 10_000), st.integers(0, 2**32))
@settings(max_examples=80, deadline=None)
def test_postings_roundtrip_property(df, seed):
    df = min(df, 2000)
    rng = np.random.default_rng(seed)
    docids = np.sort(rng.choice(df * 7, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 1 << 17, size=df).astype(np.int64)  # exercises 4-byte widths
    enc = codec.encode_term_postings(docids, tfs)
    d, t = codec.decode_blocks(enc["blocks"], df, enc["skip_off"], enc["skip_last"])
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)


@given(st.floats(min_value=0, max_value=1e12, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_smallfloat_monotone_and_bounded(x):
    """encode is monotone non-decreasing; decode(encode(x)) <= ~x for
    positives in range (truncating semantics, SmallFloat.java:28-33)."""
    b = int(bm25.float_to_byte315(np.array([x], dtype=np.float32))[0])
    b2 = int(bm25.float_to_byte315(np.array([x * 1.5 + 1e-9], dtype=np.float32))[0])
    assert b2 >= b
    dec = float(bm25.byte315_to_float(np.array([b], dtype=np.uint8))[0])
    if 1e-9 < x < 7e9:
        assert dec <= x * (1 + 2e-7) + 1e-12
        assert dec >= x / 1.35  # truncating minifloat: worst case ~20% down


@given(st.integers(1, 5), st.integers(0, 2**32))
@settings(max_examples=30, deadline=None)
def test_analyzer_oracle_equivalence_property(n_docs, seed):
    """Random ASCII-ish texts: hybrid tokenizer == regex reference."""
    import pandas as pd

    from lucene_solr_spark.analysis import text as TX

    rng = np.random.default_rng(seed)
    alphabet = list("abc XY12 .,:'- \t\n#@!()ä中")
    texts = pd.Series(
        ["".join(rng.choice(alphabet, size=rng.integers(0, 120))) for _ in range(n_docs)]
    )
    hy = TX.tokenize_series(texts)
    rg = TX._tokenize_regex(texts.reset_index(drop=True))
    # hybrid may merge multi-joiner runs the regex splits; skip those cases
    joined = "".join(texts)
    import re

    if re.search(r"[\w][.,:']{2,}[\w]", joined):
        return
    np.testing.assert_array_equal(hy["doc_idx"].to_numpy(), rg[0])
    np.testing.assert_array_equal(np.asarray(hy["term"].astype(str)), rg[1])
    np.testing.assert_array_equal(hy["pos"].to_numpy(), rg[2])


_DELTA_MAX = {1: 255, 2: 65_535, 4: 1 << 20}
_TF_MAX = {1: 255, 2: 65_535, 4: 65_536}


@given(
    st.lists(
        st.tuples(st.integers(1, 300), st.sampled_from([1, 2, 4]),
                  st.sampled_from([1, 2, 4]), st.integers(1, 4)),
        min_size=0, max_size=6,
    ),
    st.booleans(),
    st.integers(0, 2**32),
)
@settings(max_examples=60, deadline=None)
def test_segment_decoder_matches_per_row_property(rows, with_positions, seed):
    """decode_segment_postings == per-row decode_blocks plus per-block
    decode_positions_for_block, on random postings tables: doc and tf
    widths 1/2/4, rows of 2-4 salted chunks (encode_term_chunk +
    stitch_term_chunks, so interior tail blocks), positions-free tables
    (``positions`` all b"") and the empty table."""
    from tests.test_codec import postings_table

    rng = np.random.default_rng(seed)
    encs, exp_d, exp_t, exp_p = [], [], [], []
    for df, wd, wt, n_chunks in rows:
        docids = np.cumsum(rng.integers(1, _DELTA_MAX[wd] + 1, df)) - 1
        tfs = rng.integers(1, 9, df)
        tfs[rng.integers(df)] = _TF_MAX[wt]  # one block takes tf width wt
        pos = np.cumsum(rng.integers(1, 300, int(tfs.sum()))) if with_positions else None
        if n_chunks == 1 or df < n_chunks:
            enc = codec.encode_term_postings(docids, tfs, positions=pos)
        else:
            cuts = np.sort(rng.choice(np.arange(1, df), n_chunks - 1, replace=False))
            tf_ends = np.cumsum(tfs)
            chunks = []
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, df]):
                p0, p1 = tf_ends[lo] - tfs[lo], tf_ends[hi - 1]
                chunks.append(codec.encode_term_chunk(
                    docids[lo:hi], tfs[lo:hi], -1 if lo == 0 else int(docids[lo - 1]),
                    positions=None if pos is None else pos[p0:p1],
                ))
            enc = codec.stitch_term_chunks(chunks)
        encs.append(enc)
        # the per-row reference decode, checked against the generated truth
        so = np.asarray(enc["skip_off"], np.int64)
        sl = np.asarray(enc["skip_last"], np.int64)
        d, t = codec.decode_blocks(enc["blocks"], enc["df"], so, sl)
        np.testing.assert_array_equal(d, docids)
        np.testing.assert_array_equal(t, tfs)
        exp_d.append(d)
        exp_t.append(t)
        if with_positions:
            row_p = []
            for bi in range(len(sl)):
                bt = codec.decode_blocks(enc["blocks"], enc["df"], so, sl, np.array([bi]))[1]
                row_p.extend(codec.decode_positions_for_block(
                    enc["positions"], bt, enc["skip_pos_off"][bi]))
            np.testing.assert_array_equal(np.concatenate(row_p), pos)
            exp_p.extend(row_p)

    got = codec.decode_segment_postings(postings_table(encs))
    np.testing.assert_array_equal(got["df"], [e["df"] for e in encs])
    np.testing.assert_array_equal(got["docids"], np.concatenate(exp_d) if exp_d else [])
    np.testing.assert_array_equal(got["tfs"], np.concatenate(exp_t) if exp_t else [])
    if with_positions and encs:
        np.testing.assert_array_equal(got["positions"], np.concatenate(exp_p))
    else:
        assert got["positions"] is None
