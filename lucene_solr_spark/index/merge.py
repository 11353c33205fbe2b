"""Tiered segment merging: the TieredMergePolicy + merge-scheduler analog.

Planning reproduces the reference's budget/scoring logic
(lucene/core/src/java/org/apache/lucene/index/TieredMergePolicy.java):
  - defaults maxMergeAtOnce=10, segsPerTier=10, floor 2MB, max merged 5GB
    (TieredMergePolicy.java:81-88)
  - allowed segment budget: sum segsPerTier per exponential level,
    levelSize *= maxMergeAtOnce (:330-342)
  - candidate windows scored by skew * totAfterMergeBytes^0.05 (no deletes
    in an immutable corpus, so the reclaimDeletes term is 1) with
    skew = floorSize(largest)/totalFloored, lower is better (:449-491)
  - too-large segments (>= maxMergedBytes/2) are not merge inputs (:316-323)

Two deliberate departures, both scale-motivated:
  - merges pick *adjacent-by-doc-range* windows: our docIDs are global url
    ranks, so merging adjacent url-range segments keeps every segment's doc
    range contiguous (local id = global - doc_base stays dense) and docIDs
    never need remapping — unlike Lucene, which renumbers per merge.
  - execution: each merge group runs as ONE Spark task (one element of a
    parallelize job). The task decodes every source's postings table whole
    in one vectorized pass (codec.decode_segment_postings), shifts its
    docids by the source's constant doc_base offset, puts all postings in
    (term, doc) order with one stable sort and re-encodes them with the
    build's encoder (codec.encode_segment_postings). A merged segment is
    therefore byte-identical to a fresh build of the same docs, however
    many merges produced it. The work is O(postings) numpy plus a fixed
    Python cost per source and per field — not per (term, source) chunk,
    which on a Zipf corpus holds only a few postings. No shuffle at all:
    this is ConcurrentMergeScheduler's "merges are background
    single-threaded jobs" model (index/ConcurrentMergeScheduler.java:45-73),
    with Spark scheduling the groups in parallel; the planner keeps groups
    <= maxMergeAtOnce so a task's inputs stay bounded (the mtree-merge
    fanout of solr/contrib/map-reduce/.../MapReduceIndexerTool.java:322-358,795-810).

`maybe_merge` loops plan->execute->commit until the tier budget is met
(IndexWriter.maybeMerge, index/IndexWriter.java:445); each round publishes
a new atomic manifest generation, and old segment dirs stay on disk so
prior snapshots remain readable (MVCC, SegmentInfos.java:52-114).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from . import codec
from . import manifest as manifest_mod
from .build import FIELD_SEP, POSTINGS_COLUMNS, postings_frame, write_segment_files

DEFAULT_MAX_MERGE_AT_ONCE = 10
DEFAULT_SEGS_PER_TIER = 10.0
DEFAULT_FLOOR_BYTES = 2 << 20
DEFAULT_MAX_MERGED_BYTES = 5 << 30


def _floored(sz: int, floor: int) -> int:
    return max(sz, floor)


def plan_merges(
    segments: list[dict],
    max_merge_at_once: int = DEFAULT_MAX_MERGE_AT_ONCE,
    segs_per_tier: float = DEFAULT_SEGS_PER_TIER,
    floor_bytes: int = DEFAULT_FLOOR_BYTES,
    max_merged_bytes: int = DEFAULT_MAX_MERGED_BYTES,
    max_concurrent: int = 4,
) -> list[list[str]]:
    """Return groups of segment_ids to merge (possibly empty).

    Adjacent-window variant of TieredMergePolicy.findMerges (:291-425).
    Like the reference's ConcurrentMergeScheduler keeping several merges
    in flight (maxMergeCount), up to ``max_concurrent`` DISJOINT windows
    are returned per round, best score first — each executes as an
    independent Spark task in one job.
    """
    segs = sorted(segments, key=lambda s: s["doc_base"])
    sizes = {s["segment_id"]: _floored(int(s["postings_bytes"]), floor_bytes) for s in segs}
    tot = sum(sizes.values())

    # allowed segment count budget (:330-342)
    allowed = 0.0
    level = float(floor_bytes)
    rem = float(tot)
    while True:
        count_at = rem / level
        if count_at < segs_per_tier:
            allowed += np.ceil(count_at)
            break
        allowed += segs_per_tier
        rem -= segs_per_tier * level
        level *= max_merge_at_once
    allowed = max(int(allowed), 1)

    eligible = [
        s for s in segs if sizes[s["segment_id"]] < max_merged_bytes / 2
    ]
    if len(segs) <= allowed or len(eligible) < 2:
        return []

    # scan adjacent windows, score (:380-425,449-491)
    n = len(eligible)
    windows: list[tuple[float, int, int, list[str]]] = []
    for lo in range(n):
        acc = 0
        group = []
        for hi in range(lo, min(lo + max_merge_at_once, n)):
            # windows must be adjacent in the *full* segment list too
            if hi > lo:
                prev = eligible[hi - 1]
                cur = eligible[hi]
                if prev["doc_base"] + prev["max_doc"] != cur["doc_base"]:
                    break
            sz = sizes[eligible[hi]["segment_id"]]
            if acc + sz > max_merged_bytes:
                break
            acc += sz
            group.append(eligible[hi])
            if len(group) >= 2:
                szs = [sizes[g["segment_id"]] for g in group]
                skew = max(szs) / sum(szs)
                score = skew * (sum(szs) ** 0.05)
                windows.append(
                    (score, lo, hi, [g["segment_id"] for g in group])
                )
    # greedy best-first selection of DISJOINT windows; stop when merging
    # the selected groups would already satisfy the budget
    windows.sort(key=lambda w: w[0])
    taken: list[list[str]] = []
    used: set[int] = set()
    remaining = len(segs)
    for _score, lo, hi, ids in windows:
        if len(taken) >= max_concurrent or remaining <= allowed:
            break
        span = set(range(lo, hi + 1))
        if span & used:
            continue
        used |= span
        taken.append(ids)
        remaining -= len(ids) - 1
    return taken


def _encode_merged(
    codes: np.ndarray, docids: np.ndarray, tfs: np.ndarray,
    positions: np.ndarray | None, terms: np.ndarray, norms_by_field: dict,
) -> pd.DataFrame:
    """Re-encode (term, doc)-sorted merged postings with the build's encoder,
    once per field: a namespaced term's block-max reads its field's norms."""
    fields = list(norms_by_field)
    term_field = np.array(
        [fields.index(t.split(FIELD_SEP, 1)[0]) if FIELD_SEP in t else 0
         for t in terms], dtype=np.int64)
    counts = np.bincount(codes, minlength=len(terms))
    frames, order = [], []
    for fi, fname in enumerate(fields):
        term_sel = np.flatnonzero(term_field == fi)
        if not len(term_sel):
            continue
        post_sel = term_field[codes] == fi
        t_ends = np.cumsum(counts[term_sel])
        enc = codec.encode_segment_postings(
            docids[post_sel], tfs[post_sel], t_ends - counts[term_sel], t_ends,
            norms_by_field[fname],
            None if positions is None else positions[np.repeat(post_sel, tfs)],
        )
        frames.append(postings_frame(terms[term_sel], enc))
        order.append(term_sel)
    if not frames:
        return pd.DataFrame({c: [] for c in POSTINGS_COLUMNS})
    if len(frames) == 1:
        return frames[0]
    # field runs interleave with text terms in term order (FIELD_SEP sorts
    # low, but "ab" < "ab\x1f.." < "abc"): put every row back at its code
    return pd.concat(frames, ignore_index=True).iloc[
        np.argsort(np.concatenate(order))].reset_index(drop=True)


def _merge_group(index_dir: str, seg_metas: list[dict], out_seg_id: str) -> dict:
    """Single-task merge: K term-sorted postings tables -> one segment.

    Decodes each source whole (codec.decode_segment_postings), rebases its
    docids by a constant, orders every posting by (term, doc) with one
    stable sort and re-encodes with the build's encoder, so the merged
    segment is byte-identical to a fresh build of the same docs."""
    import pyarrow.parquet as pq

    t0 = time.time()
    c0 = time.process_time()
    seg_metas = sorted(seg_metas, key=lambda s: s["doc_base"])
    new_base = seg_metas[0]["doc_base"]
    norms_list, urls_list, decoded, term_parts = [], [], [], []
    extra_norm_parts: dict[str, list] = {}
    extra_sum_len: dict[str, int] = {}
    bytes_read = 0
    for s in seg_metas:
        d = os.path.join(index_dir, s["path"])
        ppath = os.path.join(d, "postings.parquet")
        bytes_read += os.path.getsize(ppath)
        pt = pq.read_table(ppath, columns=["term", "df", "blocks", "positions", "skip_off"])
        dec = codec.decode_segment_postings(pt)
        dec["docids"] += s["doc_base"] - new_base
        decoded.append(dec)
        term_parts.append(pt.column("term").to_numpy())
        nt = pq.read_table(os.path.join(d, "norms.parquet"))
        norms_list.append(np.frombuffer(nt["norms"][0].as_py(), dtype=np.uint8))
        seg_fields = (
            nt["field"].to_pylist() if "field" in nt.column_names else ["text"]
        )
        for fname in seg_fields:
            if fname == "text":
                continue
            fi = seg_fields.index(fname)
            extra_norm_parts.setdefault(fname, {})[len(norms_list) - 1] = (
                np.frombuffer(nt["norms"][fi].as_py(), dtype=np.uint8)
            )
            extra_sum_len[fname] = extra_sum_len.get(fname, 0) + int(
                nt["sum_len"][fi].as_py()
            )
        urls_list.append(
            pq.read_table(os.path.join(d, "docmap.parquet"))["url"].to_numpy()
        )

    merged_norms = np.concatenate(norms_list)
    merged_urls = np.concatenate(urls_list)
    # per-field norms concatenate DOC-ALIGNED: a source segment without the
    # field contributes a zero block for its doc range (those docs have no
    # tokens in that field, norm byte 0 — they can never match its terms),
    # so rebased docids index the right byte even for heterogeneous merges
    merged_extra_norms = {
        f: {
            "norm_bytes": np.concatenate([
                parts.get(si, np.zeros(len(norms_list[si]), np.uint8))
                for si in range(len(norms_list))
            ]),
            "sum_len": extra_sum_len[f],
        }
        for f, parts in extra_norm_parts.items()
    }

    # Sources are adjacent doc ranges in doc order, so after rebasing, the
    # concatenation is doc-ordered within every term; one stable sort by
    # term code gives the (term, doc) order the encoder takes. Positions
    # follow their posting: gather each posting's tf-long run in new order.
    row_codes, terms = pd.factorize(np.concatenate(term_parts), sort=True)
    post_codes = np.repeat(row_codes, np.concatenate([dec["df"] for dec in decoded]))
    order = np.argsort(post_codes, kind="stable")
    tfs_src = np.concatenate([dec["tfs"] for dec in decoded])
    docids = np.concatenate([dec["docids"] for dec in decoded])[order]
    tfs = tfs_src[order]
    positions = None
    pos_parts = [dec["positions"] for dec in decoded if len(dec["tfs"])]
    if any(p is not None for p in pos_parts):
        if any(p is None for p in pos_parts):
            raise ValueError("cannot merge segments with and without positions")
        src_start = np.cumsum(tfs_src) - tfs_src
        new_start = np.cumsum(tfs) - tfs
        gather = np.arange(int(tfs.sum())) + np.repeat(src_start[order] - new_start, tfs)
        positions = np.concatenate(pos_parts)[gather]

    postings = _encode_merged(
        post_codes[order], docids, tfs, positions, np.asarray(terms, dtype=object),
        {"text": merged_norms,
         **{f: e["norm_bytes"] for f, e in merged_extra_norms.items()}},
    )
    built = {
        "postings": postings,
        "norm_bytes": merged_norms,
        "sum_len": int(sum(s["sum_len"] for s in seg_metas)),
        "term_count": len(postings),
        "extra_norms": merged_extra_norms,
    }
    seg_dir = os.path.join(index_dir, "segments", f"seg_{out_seg_id}")
    postings_bytes = write_segment_files(seg_dir, built, merged_urls)
    return {
        "segment_id": out_seg_id,
        "path": os.path.relpath(seg_dir, index_dir),
        "doc_base": int(new_base),
        "max_doc": int(len(merged_urls)),
        "sum_len": built["sum_len"],
        "term_count": built["term_count"],
        "postings_bytes": int(postings_bytes),
        "lineage": {
            "merged_from": [s["segment_id"] for s in seg_metas],
            "doc_range": [int(new_base), int(new_base + len(merged_urls) - 1)],
            "wall_ms": int((time.time() - t0) * 1000),
            "cpu_ms": int((time.process_time() - c0) * 1000),
            "bytes_read": int(bytes_read),
            "postings": int(len(docids)),
        },
    }


def execute_merges(
    spark: SparkSession, index_dir: str, groups: list[list[str]]
) -> dict:
    """Run merge groups as parallel single-row Spark tasks, commit snapshot."""
    man = manifest_mod.read_current(index_dir)
    by_id = {s["segment_id"]: s for s in man["segments"]}
    gen = man["generation"]

    jobs = [
        (i, [by_id[sid] for sid in g], f"m{gen}_{i:04d}") for i, g in enumerate(groups)
    ]
    sc = spark.sparkContext
    idx_dir = index_dir
    results = (
        sc.parallelize(jobs, len(jobs))
        .map(lambda j: _merge_group(idx_dir, j[1], j[2]))
        .collect()
    )

    merged_away = {sid for g in groups for sid in g}
    new_segments = [s for s in man["segments"] if s["segment_id"] not in merged_away]
    new_segments.extend(results)
    new_segments.sort(key=lambda s: s["doc_base"])
    return manifest_mod.commit(
        index_dir,
        new_segments,
        extra={"build_id": man.get("build_id"), "total_docs": man.get("total_docs"),
               "analyzer": man.get("analyzer", "standard")},
    )


def maybe_merge(
    spark: SparkSession,
    index_dir: str,
    max_merge_at_once: int = DEFAULT_MAX_MERGE_AT_ONCE,
    segs_per_tier: float = DEFAULT_SEGS_PER_TIER,
    floor_bytes: int = DEFAULT_FLOOR_BYTES,
    max_merged_bytes: int = DEFAULT_MAX_MERGED_BYTES,
    max_rounds: int = 20,
) -> dict:
    """Merge until the tier budget is satisfied (IndexWriter.maybeMerge loop)."""
    man = manifest_mod.read_current(index_dir)
    for _ in range(max_rounds):
        groups = plan_merges(
            man["segments"], max_merge_at_once, segs_per_tier, floor_bytes, max_merged_bytes
        )
        if not groups:
            break
        man = execute_merges(spark, index_dir, groups)
    return man


def force_merge(spark: SparkSession, index_dir: str, max_segments: int = 1) -> dict:
    """forceMerge(N): mtree-style fanout merges down to <= N segments
    (TieredMergePolicy.findForcedMerges:509+; TreeMergeOutputFormat.java:138-153)."""
    man = manifest_mod.read_current(index_dir)
    while len(man["segments"]) > max_segments:
        segs = sorted(man["segments"], key=lambda s: s["doc_base"])
        groups = []
        fanout = DEFAULT_MAX_MERGE_AT_ONCE
        remaining = len(segs)  # segment count after this round's merges
        i = 0
        while i < len(segs) and remaining > max_segments:
            # merging `take` adjacent segments into one reduces the count
            # by take-1; never take more than needed to land on the target
            take = min(fanout, len(segs) - i, remaining - max_segments + 1)
            if take < 2:
                break
            groups.append([s["segment_id"] for s in segs[i : i + take]])
            remaining -= take - 1
            i += take
        if not groups:
            break
        man = execute_merges(spark, index_dir, groups)
    return man
