"""Posting-list block codec: delta docIDs + tfs in 128-entry byte-aligned
FOR blocks, per-block skip + block-max metadata, varint-encoded positions.

Shape follows the reference postings format (semantics, not bytes):
  - BLOCK_SIZE=128 delta-encoded doc blocks
    (lucene/core/src/java/org/apache/lucene/codecs/lucene41/Lucene41PostingsFormat.java:388,
     Lucene41PostingsWriter.java:250-320)
  - per-block bit(-> byte)-width chosen from the max delta, all-equal blocks
    degenerate to width 1 (codecs/lucene41/ForUtil.java:157-168,237-244)
  - a skip entry per block carrying last docID + byte offsets
    (codecs/lucene41/Lucene41SkipWriter.java:46,134-149); flat rather than
    multi-level since we decode block-at-a-time
  - block-max metadata (max tf + max norm byte per block) is our addition in
    the same per-block slot — the WAND/BMW upper-bound source (absent in the
    5.x-era reference, which the north star asks us to add)
  - positions are per-occurrence deltas, varint (LEB128) encoded, with a
    per-block byte offset so phrase checks decode only candidate blocks
    (analog of .pos/.pay files, Lucene41PostingsWriter.java:340-392)

Byte-aligned widths {1,2,4} instead of packed bit widths keep every
encode/decode step a pure numpy vector op (the Arrow/pandas-UDF hot path);
at rest the buffers additionally get Parquet compression.

Block layout inside the ``blocks`` buffer, per block:
  [u8 doc_width][u8 tf_width][n*doc_width doc deltas LE][n*tf_width tfs LE]
where n = 128 for full blocks, df % 128 for the tail block.
Delta base chains across blocks: first delta of block b is relative to the
last docID of block b-1 (block 0 is relative to -1, so all deltas >= 1).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_WIDTH_DTYPES = {1: np.uint8, 2: np.uint16, 4: np.uint32}


def _width_for(maxval: int) -> int:
    if maxval < 1 << 8:
        return 1
    if maxval < 1 << 16:
        return 2
    return 4


# ---------------------------------------------------------------------------
# varint (LEB128), vectorized
# ---------------------------------------------------------------------------


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count via threshold compares (no shift loop)."""
    n = np.ones(len(v), dtype=np.int64)
    t = np.uint64(1 << 7)
    while True:
        m = v >= t
        if not m.any():
            return n
        n += m
        if int(t) >= 1 << 63:
            # values >= 2^63 need the full 10 LEB128 bytes; no further
            # threshold exists inside uint64, so stop here
            return n
        t = np.uint64(min(int(t) << 7, 1 << 63))


def varint_encode(vals: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint array."""
    v = np.asarray(vals, dtype=np.uint64)
    if len(v) == 0:
        return b""
    if int(v.max()) < 128:
        # all-single-byte fast path (the common shape for position deltas)
        return v.astype(np.uint8).tobytes()
    nbytes = _varint_nbytes(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # byte 0 of every value directly (no index gather on the full array)
    more0 = nbytes > 1
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        more0.astype(np.uint8) << 7
    )
    active = np.flatnonzero(more0)
    rem = v[active] >> np.uint64(7)
    j = 1
    while len(active):
        more = nbytes[active] > (j + 1)
        out[starts[active] + j] = (rem & np.uint64(0x7F)).astype(np.uint8) | (
            more.astype(np.uint8) << 7
        )
        active = active[more]
        rem = rem[more] >> np.uint64(7)
        j += 1
    return out.tobytes()


def varint_decode(buf: bytes | np.ndarray, count: int | None = None, offset: int = 0) -> np.ndarray:
    """Vectorized LEB128 decode. Decodes ``count`` values (or all)."""
    b = np.frombuffer(buf, dtype=np.uint8)[offset:]
    if len(b) == 0:
        return np.zeros(0, dtype=np.int64)
    term_mask = b < 128  # terminating bytes
    if count is not None:
        # cut the buffer after `count` terminators
        idx = np.flatnonzero(term_mask)
        b = b[: idx[count - 1] + 1]
        term_mask = term_mask[: len(b)]
    n = int(term_mask.sum())
    # value id per byte = number of terminators before this byte
    val_id = np.concatenate([[0], np.cumsum(term_mask)[:-1]]).astype(np.int64)
    first_byte_idx = np.concatenate([[0], np.flatnonzero(term_mask)[:-1] + 1])
    shift = ((np.arange(len(b)) - first_byte_idx[val_id]) * 7).astype(np.uint64)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << shift
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(out, val_id, contrib)
    return out.astype(np.int64)


# ---------------------------------------------------------------------------
# per-term postings encode/decode
# ---------------------------------------------------------------------------


def encode_term_postings(
    docids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes_by_doc: np.ndarray | None = None,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode one term's postings.

    docids: sorted local int64; tfs: int32 aligned; positions: flat int32
    (concatenated per-doc position lists, each doc's sorted asc);
    norm_bytes_by_doc: uint8 array indexed by local docid (for block-max).
    """
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    df = len(docids)
    prev = np.empty(df, dtype=np.int64)
    prev[0] = -1
    prev[1:] = docids[:-1]
    deltas = docids - prev

    nblocks = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    parts: list[bytes] = []
    skip_last = np.empty(nblocks, dtype=np.int64)
    skip_off = np.empty(nblocks, dtype=np.int64)
    skip_pos_off = np.zeros(nblocks, dtype=np.int64)
    skip_max_tf = np.empty(nblocks, dtype=np.int32)
    skip_max_norm = np.zeros(nblocks, dtype=np.int32)

    # positions: varint of per-doc delta streams; per-block byte offsets
    pos_buf = b""
    pos_ends_per_doc = None
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        tf_ends = np.cumsum(tfs)
        tf_starts = tf_ends - tfs
        pdelta = positions.copy()
        pdelta[1:] -= positions[:-1]
        pdelta[tf_starts] = positions[tf_starts]  # reset per doc
        pos_buf = varint_encode(pdelta)
        # byte length of each encoded value -> per-doc byte ends
        vlens = _varint_nbytes(pdelta.astype(np.uint64))
        byte_ends = np.cumsum(vlens)
        pos_ends_per_doc = byte_ends[tf_ends - 1] if df else np.zeros(0, np.int64)

    off = 0
    for bi in range(nblocks):
        lo = bi * BLOCK_SIZE
        hi = min(lo + BLOCK_SIZE, df)
        d = deltas[lo:hi]
        t = tfs[lo:hi]
        wd = _width_for(int(d.max()))
        wt = _width_for(int(t.max()))
        blob = (
            bytes([wd, wt])
            + d.astype(_WIDTH_DTYPES[wd]).tobytes()
            + t.astype(_WIDTH_DTYPES[wt]).tobytes()
        )
        parts.append(blob)
        skip_last[bi] = docids[hi - 1]
        skip_off[bi] = off
        skip_max_tf[bi] = int(t.max())
        if norm_bytes_by_doc is not None:
            skip_max_norm[bi] = int(norm_bytes_by_doc[docids[lo:hi]].max())
        if pos_ends_per_doc is not None:
            skip_pos_off[bi] = 0 if lo == 0 else pos_ends_per_doc[lo - 1]
        off += len(blob)

    return {
        "df": df,
        "ttf": int(tfs.sum()),
        "blocks": b"".join(parts),
        "positions": pos_buf,
        "skip_last": skip_last,
        "skip_off": skip_off,
        "skip_pos_off": skip_pos_off,
        "skip_max_tf": skip_max_tf,
        "skip_max_norm": skip_max_norm,
    }


def decode_blocks(
    blocks: bytes,
    df: int,
    skip_off: np.ndarray,
    skip_last: np.ndarray,
    block_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode (docids, tfs) for the given blocks (default: all).

    Selective decode is the skip-list path: callers pick ``block_ids`` via
    searchsorted on ``skip_last`` and only those blocks are touched.
    """
    buf = np.frombuffer(blocks, dtype=np.uint8)
    nblocks = len(skip_off)
    if block_ids is None:
        block_ids = np.arange(nblocks)
    out_d: list[np.ndarray] = []
    out_t: list[np.ndarray] = []
    for bi in block_ids:
        bi = int(bi)
        o = int(skip_off[bi])
        wd = int(buf[o])
        wt = int(buf[o + 1])
        # entry count from the block's byte span: robust to interior tail
        # blocks produced by salted chunk stitching (n <= BLOCK_SIZE)
        end = int(skip_off[bi + 1]) if bi + 1 < nblocks else len(buf)
        n = (end - o - 2) // (wd + wt)
        o += 2
        d = buf[o : o + n * wd].view(_WIDTH_DTYPES[wd]).astype(np.int64)
        o += n * wd
        t = buf[o : o + n * wt].view(_WIDTH_DTYPES[wt]).astype(np.int64)
        base = np.int64(-1) if bi == 0 else skip_last[bi - 1]
        out_d.append(np.cumsum(d) + base)
        out_t.append(t)
    if not out_d:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(out_d), np.concatenate(out_t)


def decode_positions_for_block(
    pos_buf: bytes,
    tfs_in_block: np.ndarray,
    pos_offset: int,
) -> list[np.ndarray]:
    """Decode per-doc position arrays for one block's docs."""
    total = int(np.sum(tfs_in_block))
    if total == 0:
        return []
    deltas = varint_decode(pos_buf, count=total, offset=int(pos_offset))
    ends = np.cumsum(tfs_in_block)
    starts = ends - tfs_in_block
    out = []
    for s, e in zip(starts, ends):
        out.append(np.cumsum(deltas[s:e]))
    return out


# ---------------------------------------------------------------------------
# whole-segment vectorized decoder (merge-side twin of encode_segment_postings)
# ---------------------------------------------------------------------------


def _arrow_binary(col) -> tuple[np.ndarray, np.ndarray]:
    """(row offsets int64[n_rows + 1], data uint8) of an Arrow binary column."""
    arr = col.combine_chunks()
    _, off_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, np.int32)[arr.offset: arr.offset + len(arr) + 1]
    return offsets.astype(np.int64), np.frombuffer(data_buf, np.uint8)


def _gather_le(data: np.ndarray, at: np.ndarray, width: np.ndarray) -> np.ndarray:
    """Little-endian unsigned ints of per-entry ``width`` bytes at ``at``,
    one gather per width class (1, 2, 4)."""
    out = np.zeros(len(at), dtype=np.int64)
    for w in (1, 2, 4):
        m = width == w
        if not m.any():
            continue
        p = at[m]
        v = data[p].astype(np.int64)
        for byte_i in range(1, w):
            v |= data[p + byte_i].astype(np.int64) << (8 * byte_i)
        out[m] = v
    return out


def _segmented_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``vals`` restarting at each run of ``counts``
    entries (every count >= 1)."""
    c = np.cumsum(vals)
    starts = np.cumsum(counts) - counts
    return c - np.repeat(c[starts] - vals[starts], counts)


def decode_segment_postings(tbl) -> dict:
    """Decode every row of a postings table in one vectorized pass.

    ``tbl`` is a pyarrow table with the postings.parquet columns ``df``,
    ``blocks``, ``skip_off`` and ``positions``. Returns flat arrays, rows
    concatenated in table order (row i holds ``df[i]`` postings):
      df        int64[n_rows]
      docids    int64[n_post]  local docids, ascending within each row
      tfs       int64[n_post]
      positions int64[sum(tfs)] absolute positions, doc-major; None when
                the table carries no positions (a positions-free build)

    Block byte spans come from the row offsets of the ``blocks`` column
    plus ``skip_off``; each block's entry count is its span over the
    entry width, so interior tail blocks (salted stitching, and indexes
    merged before merges re-encoded their output) decode like any other. Deltas chain across
    the blocks of a row, so docids are one segmented cumsum per row.
    """
    dfs = tbl.column("df").to_numpy().astype(np.int64)
    n_post = int(dfs.sum())
    row_off, data = _arrow_binary(tbl.column("blocks"))
    skip = tbl.column("skip_off").combine_chunks()
    nb = np.diff(skip.offsets.to_numpy()).astype(np.int64)

    block_row = np.repeat(np.arange(len(dfs)), nb)
    start = row_off[block_row] + skip.flatten().to_numpy()
    end = np.empty_like(start)
    end[:-1] = start[1:]
    has = nb > 0
    end[(np.cumsum(nb) - 1)[has]] = row_off[1:][has]  # a row's last block
    wd = data[start].astype(np.int64)
    wt = data[start + 1].astype(np.int64)
    n = (end - start - 2) // (wd + wt)
    if (np.bincount(block_row, weights=n, minlength=len(dfs)) != dfs).any():
        raise ValueError("postings blocks do not decode to df entries per row")

    blk = np.repeat(np.arange(len(start)), n)
    rel = np.arange(n_post) - np.repeat(np.cumsum(n) - n, n)
    body = start[blk] + 2
    deltas = _gather_le(data, body + rel * wd[blk], wd[blk])
    tfs = _gather_le(data, body + n[blk] * wd[blk] + rel * wt[blk], wt[blk])
    docids = _segmented_cumsum(deltas, dfs[dfs > 0]) - 1

    pos_off, pos_data = _arrow_binary(tbl.column("positions"))
    pdeltas = varint_decode(pos_data[pos_off[0]:pos_off[-1]])
    positions = None
    if len(pdeltas):
        if len(pdeltas) != int(tfs.sum()):
            raise ValueError("positions do not decode to sum(tf) entries")
        positions = _segmented_cumsum(pdeltas, tfs)
    return {"df": dfs, "docids": docids, "tfs": tfs, "positions": positions}


# ---------------------------------------------------------------------------
# whole-segment vectorized encoder
# ---------------------------------------------------------------------------


def encode_segment_postings(
    g_doc: np.ndarray,
    tfs: np.ndarray,
    t_starts: np.ndarray,
    t_ends: np.ndarray,
    norm_bytes_by_doc: np.ndarray,
    pos_flat: np.ndarray | None = None,
):
    """Encode every term of a segment in one pass (no per-term Python loop).

    Inputs are the flat (term,doc)-sorted posting arrays:
      g_doc    int64[n_post]  local docids, ascending within each term
      tfs      int64[n_post]
      t_starts/t_ends int64[n_terms] term slices into the posting arrays
      pos_flat int64[sum(tfs)] per-occurrence positions, doc-major
    Returns a dict of per-term python lists/arrays ready to become the
    postings table columns (same layout as encode_term_postings).

    This is the TermsHashPerField/FreqProxTermsWriter flush
    (index/FreqProxTermsWriter.java:82-102) as numpy scatter ops: per-block
    stats via maximum.reduceat, byte packing via vectorized scatter per
    width class — the ForUtil-style specialization
    (codecs/lucene41/ForUtil.java:157-168) without per-element Python.
    """
    n_post = len(g_doc)
    n_terms = len(t_starts)
    if n_post == 0:
        return {
            "df": [], "ttf": [], "blocks": [], "positions": [],
            "skip_last": [], "skip_off": [], "skip_pos_off": [],
            "skip_max_tf": [], "skip_max_norm": [],
        }
    g_doc = np.asarray(g_doc, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)

    # deltas with reset at term starts
    prev = np.empty(n_post, dtype=np.int64)
    prev[1:] = g_doc[:-1]
    prev[t_starts] = -1
    deltas = g_doc - prev

    dfs = t_ends - t_starts
    nblocks = (dfs + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blocks = int(nblocks.sum())
    first_block = np.concatenate([[0], np.cumsum(nblocks)[:-1]])
    block_term = np.repeat(np.arange(n_terms), nblocks)
    block_within = np.arange(tot_blocks) - first_block[block_term]
    block_start = t_starts[block_term] + block_within * BLOCK_SIZE
    block_end = np.minimum(block_start + BLOCK_SIZE, t_ends[block_term])
    block_n = block_end - block_start

    maxd = np.maximum.reduceat(deltas, block_start)
    maxt = np.maximum.reduceat(tfs, block_start)
    maxnorm = np.maximum.reduceat(
        norm_bytes_by_doc[g_doc].astype(np.int64), block_start
    )
    skip_last = g_doc[block_end - 1]

    wd = np.where(maxd < 256, 1, np.where(maxd < 65536, 2, 4)).astype(np.int64)
    wt = np.where(maxt < 256, 1, np.where(maxt < 65536, 2, 4)).astype(np.int64)
    bsize = 2 + block_n * (wd + wt)
    csum = np.cumsum(bsize)
    gof = csum - bsize  # global offset of each block
    term_base = gof[first_block]
    term_bytes_len = np.add.reduceat(bsize, first_block)
    skip_off = gof - term_base[block_term]

    out = np.zeros(int(csum[-1]), dtype=np.uint8)
    out[gof] = wd
    out[gof + 1] = wt

    block_of_elem = np.repeat(np.arange(tot_blocks), block_n)
    rel = np.arange(n_post) - block_start[block_of_elem]
    d_base = gof[block_of_elem] + 2 + rel * wd[block_of_elem]
    t_base = (
        gof[block_of_elem] + 2 + block_n[block_of_elem] * wd[block_of_elem]
        + rel * wt[block_of_elem]
    )
    for vals, tgt, widths in ((deltas, d_base, wd), (tfs, t_base, wt)):
        wsel = widths[block_of_elem]
        for w in (1, 2, 4):
            m = wsel == w
            if not m.any():
                continue
            v = vals[m].astype(np.uint64)
            tg = tgt[m]
            for byte_i in range(w):
                out[tg + byte_i] = ((v >> np.uint64(8 * byte_i)) & np.uint64(0xFF)).astype(np.uint8)

    # ---- positions: one global varint encode, per-term slices ----
    pos_bufs = [b""] * n_terms
    skip_pos_off = np.zeros(tot_blocks, dtype=np.int64)
    if pos_flat is not None and len(pos_flat):
        pos_flat = np.asarray(pos_flat, dtype=np.int64)
        tf_ends = np.cumsum(tfs)
        tf_starts = tf_ends - tfs
        pdeltas = pos_flat.copy()
        pdeltas[1:] -= pos_flat[:-1]
        pdeltas[tf_starts] = pos_flat[tf_starts]
        buf = varint_encode(pdeltas)
        vlens = _varint_nbytes(pdeltas.astype(np.uint64))
        byte_ends = np.cumsum(vlens)
        post_byte_end = byte_ends[tf_ends - 1]  # per posting
        post_byte_start = post_byte_end - np.add.reduceat(vlens, tf_starts)
        term_pos_start = post_byte_start[t_starts]
        term_pos_end = post_byte_end[t_ends - 1]
        mv = memoryview(buf)
        pos_bufs = [
            bytes(mv[term_pos_start[i]:term_pos_end[i]]) for i in range(n_terms)
        ]
        skip_pos_off = (
            post_byte_start[block_start] - term_pos_start[block_term]
        )

    mvo = memoryview(out.tobytes())
    blocks_list = [
        bytes(mvo[term_base[i]: term_base[i] + term_bytes_len[i]])
        for i in range(n_terms)
    ]
    ttf = np.add.reduceat(tfs, t_starts)
    # per-term views by slicing (np.split pays ~4x more per piece)
    spans = list(zip(first_block.tolist(), (first_block + nblocks).tolist()))
    return {
        "df": dfs.tolist(),
        "ttf": ttf.tolist(),
        "blocks": blocks_list,
        "positions": pos_bufs,
        **{name: [a[lo:hi] for lo, hi in spans] for name, a in (
            ("skip_last", skip_last), ("skip_off", skip_off),
            ("skip_pos_off", skip_pos_off), ("skip_max_tf", maxt),
            ("skip_max_norm", maxnorm))},
    }


# ---------------------------------------------------------------------------
# salted (chunked) encoding for head-term skew
# ---------------------------------------------------------------------------


def encode_term_chunk(
    docids: np.ndarray,
    tfs: np.ndarray,
    base: int,
    norm_bytes_by_doc: np.ndarray | None = None,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode one (term, docid-range) chunk with the first delta relative to
    ``base`` (the previous chunk's last docid, -1 for the first chunk).

    This is the head-term salting primitive: a term whose postings exceed
    one task's budget is split by docid range into (term, salt) chunks,
    each encoded independently and in parallel, then stitched — legal
    because blocks chain deltas through skip_last and positions reset per
    doc.
    """
    docids = np.asarray(docids, dtype=np.int64)
    shifted = docids - (base + 1)  # temporary rebase so encoder's -1 start works
    enc = encode_term_postings(shifted, tfs, None, positions)
    # restore true docids in skip metadata; block-max norm needs true ids
    enc["skip_last"] = enc["skip_last"] + (base + 1)
    if norm_bytes_by_doc is not None:
        df = len(docids)
        nblocks = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
        for bi in range(nblocks):
            lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, df)
            enc["skip_max_norm"][bi] = int(norm_bytes_by_doc[docids[lo:hi]].max())
    return enc


def stitch_term_chunks(chunks: list[dict]) -> dict:
    """Concatenate independently-encoded (term, salt) chunks into one
    posting row. Chunks must be in ascending docid-range order and each
    chunk's ``base`` must have been the previous chunk's last docid."""
    df = sum(c["df"] for c in chunks)
    blocks = b"".join(c["blocks"] for c in chunks)
    positions = b"".join(c["positions"] for c in chunks)
    skip_last, skip_off, skip_pos_off, maxtf, maxnorm = [], [], [], [], []
    boff = 0
    poff = 0
    for c in chunks:
        skip_last.append(np.asarray(c["skip_last"], np.int64))
        skip_off.append(np.asarray(c["skip_off"], np.int64) + boff)
        skip_pos_off.append(np.asarray(c["skip_pos_off"], np.int64) + poff)
        maxtf.append(np.asarray(c["skip_max_tf"], np.int64))
        maxnorm.append(np.asarray(c["skip_max_norm"], np.int64))
        boff += len(c["blocks"])
        poff += len(c["positions"])
    return {
        "df": df,
        "ttf": sum(c["ttf"] for c in chunks),
        "blocks": blocks,
        "positions": positions,
        "skip_last": np.concatenate(skip_last),
        "skip_off": np.concatenate(skip_off),
        "skip_pos_off": np.concatenate(skip_pos_off),
        "skip_max_tf": np.concatenate(maxtf),
        "skip_max_norm": np.concatenate(maxnorm),
    }
