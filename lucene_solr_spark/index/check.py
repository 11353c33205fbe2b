"""Index integrity checker — the CheckIndex analog.

The reference's CheckIndex walks every structure and validates counts,
checksums and term/posting agreement
(lucene/core/src/java/org/apache/lucene/index/CheckIndex.java). This
checker does the same for our segment layout, using pyarrow only (no
Spark session needed), so it can run against any index directory:

  per index:  doc ranges form a contiguous partition of [0, total_docs);
              fieldstats equal the sum of segment stats
  per segment: postings sorted by term; df == decoded docid count;
              docids strictly ascending, within [0, max_doc);
              ttf == sum(tfs); skip entries agree with decoded blocks
              (last docid, max tf, max norm byte per block);
              positions decode to exactly tf entries per doc, ascending;
              norms blob length == max_doc; docmap has max_doc unique urls,
              sorted ascending (docid == local url rank)
"""

from __future__ import annotations

import os

import numpy as np

from . import codec
from . import manifest as manifest_mod


class CheckIndexError(AssertionError):
    pass


def _check(cond, msg):
    if not cond:
        raise CheckIndexError(msg)


def check_segment(index_dir: str, seg: dict, sample_terms: int | None = None) -> dict:
    import pyarrow.parquet as pq

    d = os.path.join(index_dir, seg["path"])
    sid = seg["segment_id"]
    post = pq.read_table(os.path.join(d, "postings.parquet")).to_pandas()
    norms_t = pq.read_table(os.path.join(d, "norms.parquet"))
    norms = np.frombuffer(norms_t["norms"][0].as_py(), dtype=np.uint8)
    # per-field norms for namespaced multi-field terms (block-max bytes are
    # computed against the TERM'S OWN field's norms)
    from .build import FIELD_SEP

    norms_by_field = {"text": norms}
    if "field" in norms_t.column_names:
        for i, fname in enumerate(norms_t["field"].to_pylist()):
            norms_by_field[fname] = np.frombuffer(
                norms_t["norms"][i].as_py(), dtype=np.uint8
            )
    dm = pq.read_table(os.path.join(d, "docmap.parquet"))

    max_doc = seg["max_doc"]
    _check(len(norms) == max_doc, f"{sid}: norms length {len(norms)} != max_doc {max_doc}")
    _check(int(norms_t["max_doc"][0].as_py()) == max_doc, f"{sid}: norms max_doc mismatch")
    urls = dm["url"].to_numpy()
    _check(len(urls) == max_doc, f"{sid}: docmap rows != max_doc")
    # NRT-appended batches assign docids in arrival order, and merges
    # concatenate urls in doc order — such segments legitimately have
    # unsorted urls. Enforce the global-sort invariant only for segments
    # built by the batch indexer (url-range routing); always enforce
    # uniqueness.
    lineage = seg.get("lineage", {}) or {}
    from_nrt_or_merge = "batch_id" in lineage or "merged_from" in lineage
    if max_doc > 1:
        if from_nrt_or_merge:
            _check(len(np.unique(urls)) == max_doc, f"{sid}: docmap urls not unique")
        else:
            _check((urls[:-1] < urls[1:]).all(), f"{sid}: docmap urls not sorted/unique")
    _check(
        (dm["docid"].to_numpy() == np.arange(max_doc)).all(),
        f"{sid}: docmap local ids not dense",
    )

    terms = post["term"].to_numpy()
    _check((terms[:-1] <= terms[1:]).all() if len(terms) > 1 else True, f"{sid}: terms not sorted")
    _check(post["segment_id"].nunique() <= 1, f"{sid}: mixed segment_id column")

    total_ttf = 0
    rows = post if sample_terms is None else post.iloc[
        np.linspace(0, len(post) - 1, min(sample_terms, len(post))).astype(int)
    ]
    for _, r in rows.iterrows():
        df = int(r["df"])
        skip_off = np.asarray(r["skip_off"], np.int64)
        skip_last = np.asarray(r["skip_last"], np.int64)
        ids, tfs = codec.decode_blocks(r["blocks"], df, skip_off, skip_last)
        t = r["term"]
        _check(len(ids) == df, f"{sid}/{t}: decoded count != df")
        _check((np.diff(ids) > 0).all() if df > 1 else True, f"{sid}/{t}: docids not ascending")
        _check(ids[0] >= 0 and ids[-1] < max_doc, f"{sid}/{t}: docid out of range")
        _check(int(tfs.sum()) == int(r["ttf"]), f"{sid}/{t}: ttf != sum(tf)")
        _check((tfs >= 1).all(), f"{sid}/{t}: tf < 1")
        # skip/block-max agreement. Blocks are AT MOST BLOCK_SIZE entries:
        # interior tail blocks (< BLOCK_SIZE) are legal — they arise from
        # salted chunk stitching and in indexes merged before merges
        # re-encoded their output (those concatenated each source's blocks).
        nblocks = len(skip_last)
        min_blocks = (df + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
        _check(nblocks >= min_blocks, f"{sid}/{t}: skip entry count")
        lo = 0
        for bi in range(nblocks):
            bd, bt = codec.decode_blocks(
                r["blocks"], df, skip_off, skip_last, np.array([bi])
            )
            n = len(bd)
            _check(1 <= n <= codec.BLOCK_SIZE, f"{sid}/{t}: block {bi} size {n}")
            hi = lo + n
            _check(hi <= df, f"{sid}/{t}: block {bi} overruns df")
            _check((bd == ids[lo:hi]).all(), f"{sid}/{t}: block {bi} ids disagree")
            _check((bt == tfs[lo:hi]).all(), f"{sid}/{t}: block {bi} tfs disagree")
            _check(skip_last[bi] == ids[hi - 1], f"{sid}/{t}: skip_last[{bi}]")
            _check(
                int(np.asarray(r["skip_max_tf"])[bi]) == int(tfs[lo:hi].max()),
                f"{sid}/{t}: skip_max_tf[{bi}]",
            )
            t_field = t.split(FIELD_SEP, 1)[0] if FIELD_SEP in t else "text"
            _check(
                int(np.asarray(r["skip_max_norm"])[bi])
                == int(norms_by_field[t_field][ids[lo:hi]].max()),
                f"{sid}/{t}: skip_max_norm[{bi}]",
            )
            # positions: decode block, verify counts + ascending
            plists = codec.decode_positions_for_block(
                r["positions"], tfs[lo:hi], np.asarray(r["skip_pos_off"], np.int64)[bi]
            )
            _check(len(plists) == hi - lo, f"{sid}/{t}: positions doc count block {bi}")
            for j, pl in enumerate(plists):
                _check(len(pl) == tfs[lo + j], f"{sid}/{t}: positions len != tf")
                _check((np.diff(pl) > 0).all() if len(pl) > 1 else True,
                       f"{sid}/{t}: positions not ascending")
            lo = hi
        _check(lo == df, f"{sid}/{t}: block sizes sum {lo} != df {df}")
        total_ttf += int(r["ttf"])

    out = {"segment_id": sid, "terms": len(post), "checked_terms": len(rows)}
    if sample_terms is None:
        # multi-field segments (build.FIELD_SEP-namespaced runs) carry the
        # extra fields' ttf too; sum_len covers the default text field only
        from .build import FIELD_SEP

        extra_ttf = int(
            post.loc[post["term"].str.contains(FIELD_SEP, regex=False), "ttf"].sum()
        )
        _check(
            total_ttf - extra_ttf == seg["sum_len"],
            f"{sid}: sum(ttf) {total_ttf - extra_ttf} != sum_len {seg['sum_len']}",
        )
    return out


def check_index(index_dir: str, sample_terms: int | None = None) -> dict:
    """Validate the current snapshot; raises CheckIndexError on corruption."""
    man = manifest_mod.read_current(index_dir)
    _check(man is not None, f"no manifest in {index_dir}")
    segs = sorted(man["segments"], key=lambda s: s["doc_base"])
    acc = 0
    for s in segs:
        _check(s["doc_base"] == acc, f"{s['segment_id']}: doc_base {s['doc_base']} != {acc}")
        acc += s["max_doc"]
    fs = man["fieldstats"]
    _check(fs["max_doc"] == acc, "fieldstats.max_doc != sum of segments")
    _check(
        fs["sum_total_term_freq"] == sum(s["sum_len"] for s in segs),
        "fieldstats.sum_total_term_freq != sum of segments",
    )
    reports = [check_segment(index_dir, s, sample_terms) for s in segs]
    return {"generation": man["generation"], "segments": reports, "total_docs": acc}
