import numpy as np
import pytest

from lucene_solr_spark.index import codec


@pytest.mark.parametrize("df", [1, 2, 127, 128, 129, 1000, 4096])
def test_postings_roundtrip(df):
    rng = np.random.default_rng(df)
    docids = np.sort(rng.choice(np.arange(df * 7), size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 255, size=df).astype(np.int64)
    positions = [np.sort(rng.choice(5000, size=tf, replace=False)) for tf in tfs]
    posflat = np.concatenate(positions)
    norms = rng.integers(90, 130, size=int(docids.max()) + 1).astype(np.uint8)
    enc = codec.encode_term_postings(docids, tfs, norms, posflat)
    d, t = codec.decode_blocks(enc["blocks"], df, enc["skip_off"], enc["skip_last"])
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)


def test_selective_block_decode():
    df = 1000
    docids = np.arange(0, df * 3, 3, dtype=np.int64)
    tfs = np.ones(df, dtype=np.int64)
    enc = codec.encode_term_postings(docids, tfs)
    d, t = codec.decode_blocks(
        enc["blocks"], df, enc["skip_off"], enc["skip_last"], np.array([3])
    )
    np.testing.assert_array_equal(d, docids[3 * 128 : 4 * 128])


def test_all_equal_block_degenerates_to_width_1():
    # consecutive docids -> all deltas 1 -> 1-byte width (ForUtil all-equal analog)
    df = 128
    enc = codec.encode_term_postings(np.arange(df, dtype=np.int64), np.ones(df, np.int64))
    # header 2 bytes + 128*1 + 128*1
    assert len(enc["blocks"]) == 2 + 128 + 128


def test_varint_roundtrip_extremes():
    v = np.array([0, 1, 127, 128, 300, 1 << 20, (1 << 45) + 17], dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(v), count=len(v))
    np.testing.assert_array_equal(out, v.astype(np.int64))


def test_block_max_metadata():
    rng = np.random.default_rng(5)
    df = 300
    docids = np.sort(rng.choice(3000, df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 99, df).astype(np.int64)
    norms = rng.integers(80, 140, 3000).astype(np.uint8)
    enc = codec.encode_term_postings(docids, tfs, norms)
    for bi in range(len(enc["skip_last"])):
        lo, hi = bi * 128, min((bi + 1) * 128, df)
        assert enc["skip_max_tf"][bi] == tfs[lo:hi].max()
        assert enc["skip_max_norm"][bi] == norms[docids[lo:hi]].max()
        assert enc["skip_last"][bi] == docids[hi - 1]


def postings_table(encs: list[dict]):
    """The postings.parquet columns the segment decoder reads, one row per
    per-term encode."""
    import pyarrow as pa

    return pa.table({
        "df": pa.array([e["df"] for e in encs], pa.int64()),
        "blocks": pa.array([e["blocks"] for e in encs], pa.binary()),
        "positions": pa.array([e["positions"] for e in encs], pa.binary()),
        "skip_off": pa.array([np.asarray(e["skip_off"]).tolist() for e in encs],
                             pa.list_(pa.int64())),
    })


def test_decode_segment_postings_bulk_roundtrip():
    """Whole-table decoder == the encoded rows, incl. mixed widths,
    multi-block rows, single-entry rows and the empty table."""
    rng = np.random.default_rng(11)
    rows = []
    for df in (1, 5, 128, 129, 400, 1000):
        maxdoc = max(df * 3, 200_000)  # force mixed delta widths
        docids = np.sort(rng.choice(maxdoc, df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 300, df).astype(np.int64)
        pos = []
        for t in tfs:
            pos.append(np.sort(rng.choice(5000, t, replace=False)))
        pos_flat = np.concatenate(pos)
        enc = codec.encode_term_postings(docids, tfs, positions=pos_flat)
        rows.append((docids, tfs, pos, enc))

    got = codec.decode_segment_postings(postings_table([r[3] for r in rows]))
    np.testing.assert_array_equal(got["df"], [r[3]["df"] for r in rows])
    np.testing.assert_array_equal(got["docids"], np.concatenate([r[0] for r in rows]))
    np.testing.assert_array_equal(got["tfs"], np.concatenate([r[1] for r in rows]))
    exp_pos = np.concatenate([p for r in rows for p in r[2]])
    np.testing.assert_array_equal(got["positions"], exp_pos)

    empty = codec.decode_segment_postings(postings_table([]))
    assert len(empty["df"]) == len(empty["docids"]) == len(empty["tfs"]) == 0
    assert empty["positions"] is None


def test_varint_roundtrip_10_byte_values():
    # uint64 values >= 2^63 need 10 LEB128 bytes; the threshold loop must
    # count the final round (latent corruption guard — codec.py _varint_nbytes)
    v = np.array(
        [(1 << 56) - 1, 1 << 56, (1 << 63) - 1, 1 << 63, (1 << 64) - 1, 5],
        dtype=np.uint64,
    )
    enc = codec.varint_encode(v)
    out = codec.varint_decode(enc, count=len(v)).astype(np.uint64)
    np.testing.assert_array_equal(out, v)
