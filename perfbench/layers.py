"""Per-layer metrics of the traced run.

``install`` wraps the layer entry points (module attributes the package
looks up at call time) with spans; ``sampled_build`` replays the
worker-side build kernels in-process on sampled url-range buckets;
``derive`` turns spans, manifest lineage and Spark's status tracker into
the ``per_layer`` metrics of BENCHMARK.json.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
from collections import defaultdict

import numpy as np

from tracing import Tracer, self_times


# every span install() records (the self-test checks a traced run emits each)
SPAN_NAMES = (
    "build.bucket_bounds", "manifest.commit", "manifest.read_current",
    "merge.plan", "merge.execute", "nrt.append", "analysis.tokenize",
    "codec.encode", "build.write", "query.parse", "engine.open",
    "engine.term_stats", "engine.read_postings", "engine.score_segment",
    "codec.decode", "bm25.score",
)


def install() -> Tracer:
    from lucene_solr_spark.index import build, codec, manifest, merge
    from lucene_solr_spark.search import bm25, engine
    from lucene_solr_spark.streaming import incremental

    tr = Tracer()
    # write path, driver side
    tr.wrap(build, "compute_bucket_bounds", "build.bucket_bounds")
    tr.wrap(manifest, "commit", "manifest.commit")
    tr.wrap(manifest, "read_current", "manifest.read_current")
    tr.wrap(merge, "plan_merges", "merge.plan")
    tr.wrap(merge, "execute_merges", "merge.execute")
    tr.wrap(incremental, "append_batch", "nrt.append")
    # worker-side build kernels: reached by sampled_build's in-process calls
    tr.wrap(build, "tokenize_series", "analysis.tokenize",
            after=lambda a, kw, r: {"tokens": len(r)})
    tr.wrap(codec, "encode_segment_postings", "codec.encode",
            after=lambda a, kw, r: {
                "postings": len(a[0]),
                "bytes": sum(map(len, r["blocks"])) + sum(map(len, r["positions"])),
            })
    tr.wrap(build, "write_segment_files", "build.write")
    # read path
    tr.wrap(engine, "parse_query", "query.parse")
    tr.wrap(engine.SparkSearcher, "__init__", "engine.open")
    tr.wrap(engine.SparkSearcher, "_term_stats_resident", "engine.term_stats",
            before=lambda a, kw: {
                "terms": len(a[1]),
                "cache_hits": sum(t in a[0]._stats_cache for t in a[1]),
            },
            after=lambda a, kw, r: {"sum_df": int(sum(r.values()))})
    tr.wrap(engine.SparkSearcher, "_read_seg_postings", "engine.read_postings",
            after=lambda a, kw, r: {
                "bytes": int(sum(map(len, r["blocks"]))
                             + (sum(map(len, r["positions"])) if "positions" in r else 0)),
                "blocks": int(sum(map(len, r["skip_off"]))) if len(r) else 0,
            })
    tr.wrap(engine, "_score_segment", "engine.score_segment")
    tr.wrap(codec, "decode_blocks", "codec.decode",
            after=lambda a, kw, r: {
                "list": id(a[0]),  # the posting list's bytes, alive per query
                "block_ids": [int(b) for b in _block_ids(a, kw)],
                "docs": len(r[0]),
            })
    tr.wrap(bm25, "score_freqs", "bm25.score",
            after=lambda a, kw, r: {"scored": int(np.size(r))})
    return tr


def _block_ids(a, kw):
    ids = a[4] if len(a) > 4 else kw.get("block_ids")
    return np.arange(len(a[2])) if ids is None else ids


def sampled_build(bench) -> None:
    """Run the per-bucket build kernels in-process on three of the served
    index's url-range buckets (first, middle, last) under the tracer."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lucene_solr_spark.index import build

    tbl = pq.read_table(bench.corpus_dir, columns=["url", "text"])
    tbl = tbl.take(pc.sort_indices(tbl.column("url")))
    segs = sorted(bench.t_ops["build_manifests"][-1]["segments"],
                  key=lambda s: s["doc_base"])
    out = os.path.join(bench.work, "sampled")
    for b in (0, len(segs) // 2, len(segs) - 1):
        part = tbl.slice(segs[b]["doc_base"], segs[b]["max_doc"])
        with bench.tracer.span("build.bucket", op_id=f"sample{b}"):
            built = build._build_segment_pdf(part.column("text"))
            urls = np.asarray(part.column("url").to_pylist(), dtype=object)
            build.write_segment_files(os.path.join(out, f"seg_{b}"), built, urls)
    shutil.rmtree(out, ignore_errors=True)


_PER_QUERY = (
    "query.parse", "engine.read_postings",
    "engine.score_segment", "codec.decode", "bm25.score",
    "bytes_read", "segments", "blocks", "docs", "merge_topk",
)


def _med(vals, scale=1.0):
    return statistics.median(vals) * scale if vals else float("nan")


def derive(bench) -> dict:
    spans = bench.tracer.spans
    selft = self_times(spans)
    by_name = defaultdict(list)
    by_op = defaultdict(list)
    for s in spans:
        by_name[s[1]].append(s)
        by_op[s[5]].append(s)

    def dur(s):
        return s[3] - s[2]

    def durs(name, op_prefix=None):
        return [dur(s) for s in by_name[name]
                if op_prefix is None or str(s[5]).startswith(op_prefix)]

    L: dict[str, float] = {}

    # analysis / codec encode / build write: sampled buckets, in-process
    tok = by_name["analysis.tokenize"]
    enc = by_name["codec.encode"]
    L["analysis.tokenize_s"] = _med([dur(s) for s in tok])
    L["analysis.tokens_per_s"] = (
        sum(s[6]["tokens"] for s in tok) / sum(dur(s) for s in tok))
    L["codec.encode_s"] = _med([dur(s) for s in enc])
    L["codec.bytes_per_posting"] = (
        sum(s[6]["bytes"] for s in enc) / sum(s[6]["postings"] for s in enc))
    L["build.write_s"] = _med(durs("build.write", "sample"))

    # index.build: driver-side bounds + manifest lineage of the warm set-up
    # builds (the first one also pays the process's cold start)
    L["build.bucket_bounds_s"] = _med(durs("build.bucket_bounds", "setup"))
    walls, ratios, overheads = [], [], []
    for man, wall_s in zip(bench.t_ops["build_manifests"][1:], bench.t_ops["build_s"][1:]):
        w = [s["lineage"]["wall_ms"] for s in man["segments"]]
        walls.extend(w)
        ratios.append(max(w) / statistics.median(w))
        overheads.append(wall_s - max(w) / 1e3)
    L["build.segment_wall_p50_ms"] = statistics.median(walls)
    L["build.segment_wall_max_ms"] = float(max(walls))
    L["build.straggler_ratio"] = statistics.median(ratios)
    L["build.driver_overhead_s"] = statistics.median(overheads)

    # index.manifest / index.merge
    L["manifest.commit_ms"] = _med(durs("manifest.commit"), 1e3)
    L["manifest.read_current_ms"] = _med(durs("manifest.read_current"), 1e3)
    L["merge.plan_ms"] = _med(durs("merge.plan"), 1e3)
    L["merge.execute_s"] = _med([dur(s) for s in by_name["merge.execute"]
                                 if s[5] != "merge_warmup"])
    L["merge.rounds"] = statistics.mean(bench.t_ops.get("merge_rounds") or [0])
    out_b, in_b = bench.t_ops.get("merge_bytes", (0, 1))
    L["merge.bytes_written_per_input_byte"] = out_b / in_b

    # resident queries: per-query sums over each traced query's spans
    per_q: dict[str, list] = {k: [] for k in _PER_QUERY}
    sum_df = docs = scored = hits = 0
    list_blocks = distinct_blocks = 0
    n_spans = []
    for op, ss in by_op.items():
        if not (isinstance(op, str) and op.startswith("q")):
            continue
        root = [s for s in ss if s[1] == "query"]
        if not root:
            continue
        n_spans.append(len(ss))
        hits += root[0][6]["hits"]
        agg = dict.fromkeys(_PER_QUERY, 0.0)
        touched = set()
        for s in ss:
            name, a = s[1], s[6]
            if name == "engine.score_segment":
                agg[name] += selft[s[0]]
            elif name in agg:
                agg[name] += dur(s)
            if name == "engine.read_postings":
                agg["bytes_read"] += a["bytes"]
                agg["segments"] += 1
                list_blocks += a["blocks"]
            elif name == "engine.term_stats":
                sum_df += a["sum_df"]
            elif name == "codec.decode":
                agg["blocks"] += len(a["block_ids"])
                agg["docs"] += a["docs"]
                touched.update((a["list"], b) for b in a["block_ids"])
                docs += a["docs"]
            elif name == "bm25.score":
                scored += a["scored"]
        distinct_blocks += len(touched)
        agg["merge_topk"] = selft[root[0][0]]
        for k, v in agg.items():
            per_q[k].append(v)
    L["query.parse_ms"] = _med(per_q["query.parse"], 1e3)
    # the served searcher's term-stats cache is filled before its timed
    # loop, so stats cost and cache hits come from the NRT queries, each
    # batch's on a freshly reopened searcher
    nrt_stats = defaultdict(float)
    nrt_terms = nrt_hits = 0
    for s in by_name["engine.term_stats"]:
        if re.fullmatch(r"batch\d+\.q\d+", str(s[5])):
            nrt_stats[s[5]] += dur(s)
            nrt_terms += s[6]["terms"]
            nrt_hits += s[6]["cache_hits"]
    L["engine.term_stats_ms"] = _med(list(nrt_stats.values()), 1e3)
    L["engine.stats_cache_hit_ratio"] = nrt_hits / max(nrt_terms, 1)
    L["engine.read_postings_ms"] = _med(per_q["engine.read_postings"], 1e3)
    L["engine.postings_bytes_read_per_query"] = _med(per_q["bytes_read"])
    L["engine.segments_per_query"] = _med(per_q["segments"])
    L["engine.score_segment_ms"] = _med(per_q["engine.score_segment"], 1e3)
    L["engine.merge_topk_ms"] = _med(per_q["merge_topk"], 1e3)
    L["engine.open_ms"] = _med(durs("engine.open"), 1e3)
    L["codec.decode_ms"] = _med(per_q["codec.decode"], 1e3)
    L["codec.blocks_decoded_per_query"] = _med(per_q["blocks"])
    L["codec.docs_decoded_per_query"] = _med(per_q["docs"])
    L["codec.decode_skip_ratio"] = 1.0 - docs / max(sum_df, 1)
    L["codec.block_skip_ratio"] = 1.0 - distinct_blocks / max(list_blocks, 1)
    L["bm25.score_ms"] = _med(per_q["bm25.score"], 1e3)
    L["bm25.docs_scored_per_hit"] = scored / max(hits, 1)

    # streaming.incremental
    L["nrt.append_s"] = _med(durs("nrt.append"))
    segs = bench.t_ops["nrt_segments"]
    L["nrt.segments_p50"] = float(statistics.median(segs))
    L["nrt.segments_max"] = float(max(segs))

    # tracing overhead: each resident query ran traced and untraced back to
    # back; the paired difference is what the wrappers cost
    pairs = bench.t_ops["overhead_pairs"]
    diff = [t - u for t, u in pairs]
    L["trace.overhead_ms"] = statistics.median(diff) * 1e3
    L["trace.overhead_pct"] = (
        100.0 * statistics.median(diff) / statistics.median([u for _, u in pairs]))
    L["trace.spans_per_query"] = _med(n_spans)
    return L
