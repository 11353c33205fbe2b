"""Distributed index build: one url-range bucket = one immutable segment.

Mirrors the reference build dataflow, not its thread machinery:
  - one DocumentsWriterPerThread = one private in-RAM segment, no cross-
    thread coordination until flush (index/DocumentsWriterPerThread.java:48,221)
    -> here: one bucket builds one segment inside a single applyInPandas
    group; the only shuffle in the whole build is the bucket partitioning
  - in-RAM hash aggregation term -> postings with on-the-fly delta encode
    (index/TermsHashPerField.java:96-121, FreqProxTermsWriterPerField.java:110-147)
    -> numpy lexsort + run-length aggregation + block codec, fully vectorized
  - terms sorted before write (index/FreqProxTermsWriter.java:82-102)
    -> postings.parquet sorted by term (row-group min/max = the term index,
       playing BlockTree/FST's pruning role, codecs/blocktree/BlockTreeTermsWriter.java:163-207)
  - flush-by-RAM policy (index/FlushByRamOrCountsPolicy.java) -> bucket
    sizing: choose num_segments so a bucket's token frame fits an executor
  - norms: one byte per doc, SmallFloat-encoded field length
    (index/DefaultIndexingChain.java:188-206) -> norms blob per segment

Global docIDs are deterministic: docid = rank of url in lexicographic order.
Buckets are *explicit url ranges* cut at deterministic (seeded-sample)
quantile boundaries — unlike repartitionByRange, whose per-job sampling is
not reproducible — so a resumed build reassigns every row to the same
bucket and doc_base, and score ties break identically on any cluster size
(search/HitQueue.java:76-81).

Resumability: each segment directory is finalized with a _COMPLETE.json
carrying a content fingerprint; a re-run with the same build_id skips
finished buckets whose fingerprint matches, and the final manifest commit
is atomic (manifest.py). This is the Iceberg-snapshot checkpoint model of
the north star.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..analysis import tokenize_series
from ..search import bm25, spans as spans_mod
from . import codec, manifest as manifest_mod

LINEAGE_SCHEMA = (
    "segment_id string, path string, partition_id int, doc_base long, "
    "max_doc long, sum_len long, term_count long, postings_bytes long, "
    "first_url string, last_url string, wall_ms long, resumed boolean"
)
_LINEAGE_COLS = [c.split(" ")[0] for c in LINEAGE_SCHEMA.split(", ")]


def _fingerprint(doc_base: int, n: int, first_url: str, last_url: str) -> str:
    import hashlib

    h = hashlib.sha256(f"{doc_base}|{n}|{first_url}|{last_url}".encode()).hexdigest()
    return h[:16]


def compute_bucket_bounds(
    df: DataFrame, url_col: str, num_buckets: int, seed: int = 42
) -> list[str]:
    """Deterministic url-range split points from a seeded sample.

    The MapReduceIndexerTool analog of choosing shard ranges up front
    (solr/contrib/map-reduce/.../SolrCloudPartitioner.java:49-85), except our
    ranges are lexicographic (docid = url rank) rather than hash slices.
    """
    if num_buckets <= 1:
        return []
    n = df.count()
    target = max(num_buckets * 200, 10_000)
    frac = min(1.0, target / max(n, 1))
    sample = [r[0] for r in df.select(url_col).sample(frac, seed=seed).collect()]
    if not sample:
        return []
    sample.sort()
    bounds = []
    for i in range(1, num_buckets):
        b = sample[min(len(sample) - 1, (i * len(sample)) // num_buckets)]
        bounds.append(b)
    # dedupe (heavy skew could repeat a boundary)
    return sorted(set(bounds))


def _bucket_id_col(bounds: list[str], url_col):
    """bucket id = #bounds < url (searchsorted left).

    For a modest bound count this is a pure JVM higher-order-function
    expression — no Python/Arrow round trip of the corpus just to route
    rows. With very many buckets (huge clusters) fall back to a vectorized
    pandas UDF doing a real binary search.
    """
    if len(bounds) == 0:
        return F.lit(0).cast("int")
    if len(bounds) <= 512:
        arr = F.array(*[F.lit(b) for b in bounds])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(url_col > b, 1).otherwise(0),
        ).cast("int")

    b = np.array(bounds, dtype=object)

    @F.pandas_udf(T.IntegerType())
    def bucket_id(urls: pd.Series) -> pd.Series:
        ids = np.searchsorted(b, urls.to_numpy(), side="left")
        return pd.Series(ids.astype(np.int32))

    return bucket_id(url_col)


def _factorize_sorted(terms: pd.Series):
    """codes + uniques in LEXICOGRAPHIC order (pd.factorize(sort=True) keeps
    a Categorical's dictionary order, which for Arrow-encoded terms is
    insertion order — the postings table must be term-sorted for row-group
    pruning, CheckIndex enforces it)."""
    if isinstance(terms.dtype, pd.CategoricalDtype):
        cats = np.asarray(terms.cat.categories)
        order = np.argsort(cats)
        rank = np.empty(len(cats), dtype=np.int64)
        rank[order] = np.arange(len(cats))
        codes = rank[terms.cat.codes.to_numpy()]
        return codes, cats[order]
    codes, uniques = pd.factorize(terms, sort=True)
    return codes.astype(np.int64), np.asarray(uniques)


POSTINGS_COLUMNS = [
    "term", "df", "ttf", "blocks", "positions", "skip_last", "skip_off",
    "skip_pos_off", "skip_max_tf", "skip_max_norm",
]


def postings_frame(terms: np.ndarray, enc: dict) -> pd.DataFrame:
    """Postings table rows from ``codec.encode_segment_postings`` output."""
    return pd.DataFrame(
        {"term": terms, **{c: enc[c] for c in ("df", "ttf", "blocks", "positions")},
         # the per-block skip lists
         **{c: [a.tolist() for a in enc[c]] for c in POSTINGS_COLUMNS[5:]}},
        columns=POSTINGS_COLUMNS,
    )


def _build_segment_pdf(texts: pd.Series, with_positions: bool = True, analyzer: str = "standard") -> dict:
    """Pure-pandas segment build: postings table + norms + stats (vectorized)."""
    flat = tokenize_series(texts, analyzer=analyzer)
    lengths = flat.attrs["doc_lengths"]
    norm_bytes = bm25.encode_norm(lengths)

    term_codes, term_uniques = _factorize_sorted(flat["term"])
    doc_idx = flat["doc_idx"].to_numpy().astype(np.int64)
    pos = flat["pos"].to_numpy().astype(np.int64)
    if len(pos) and int(pos.max()) > spans_mod.MAX_POSITION:
        # IndexWriter.MAX_POSITION analog: a >2^21-token doc would bleed
        # positions into the next doc's global-coordinate block and
        # silently corrupt every batched span/phrase kernel (ADVICE r3)
        raise ValueError(
            f"document exceeds MAX_POSITION={spans_mod.MAX_POSITION} "
            f"tokens (got position {int(pos.max())}); refuse to index"
        )

    order = np.lexsort((doc_idx, term_codes))  # stable: keeps pos asc in groups
    ts = term_codes[order]
    ds = doc_idx[order]
    ps = pos[order]

    if len(ts):
        new_grp = np.empty(len(ts), dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (ts[1:] != ts[:-1]) | (ds[1:] != ds[:-1])
        grp_starts = np.flatnonzero(new_grp)
        grp_ends = np.append(grp_starts[1:], len(ts))
        tfs_all = (grp_ends - grp_starts).astype(np.int64)
        g_term = ts[grp_starts]
        g_doc = ds[grp_starts]
        new_term = np.empty(len(grp_starts), dtype=bool)
        new_term[0] = True
        new_term[1:] = g_term[1:] != g_term[:-1]
        t_starts = np.flatnonzero(new_term)
        t_ends = np.append(t_starts[1:], len(grp_starts))

        enc = codec.encode_segment_postings(
            g_doc,
            tfs_all,
            t_starts,
            t_ends,
            norm_bytes,
            ps if with_positions else None,
        )
        postings = postings_frame(term_uniques[g_term[t_starts]], enc)
    else:
        postings = pd.DataFrame({c: [] for c in POSTINGS_COLUMNS})
    return {
        "postings": postings,
        "norm_bytes": norm_bytes,
        "lengths": lengths,
        # sumTotalTermFreq = Σ tf over all postings (ALL tokens, incl.
        # posInc-0 synonym/shingle/gram twins) — this feeds avgdl
        # (BM25Similarity.java:82-89). NOT Σ lengths: norm lengths are
        # overlap-discounted (discountOverlaps=true) and diverge from
        # the token count under graph analyzers.
        "sum_len": len(flat),
        "term_count": len(postings),
    }


# Lucene's Term is (field, text) (index/Term.java:33-41): extra analyzed
# fields namespace their dictionary entries as  field + FIELD_SEP + text.
# \x1f sorts below every printable char, so a field's terms form one
# contiguous term-sorted run — per-field prefix pushdown stays intact.
FIELD_SEP = "\x1f"


def write_segment_files(
    seg_dir: str, built: dict, urls: np.ndarray,
    extra_built: dict[str, dict] | None = None,
) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(seg_dir, exist_ok=True)
    postings = built["postings"]
    if extra_built:
        frames = [postings]
        for fname, fb in extra_built.items():
            fp = fb["postings"].copy()
            fp["term"] = fname + FIELD_SEP + fp["term"].astype(str)
            frames.append(fp)
        postings = (
            pd.concat(frames, ignore_index=True)
            .sort_values("term", kind="mergesort")
            .reset_index(drop=True)
        )
    # constant segment_id column (dictionary-encoded ≈ free): the query path
    # groups on it; a nondeterministic input_file_name() column would block
    # Catalyst from pushing the term predicate into the parquet scan
    seg_id = os.path.basename(seg_dir.rstrip("/"))
    postings = postings.assign(segment_id=seg_id)
    schema = pa.schema(
        [
            ("segment_id", pa.string()),
            ("term", pa.string()),
            ("df", pa.int64()),
            ("ttf", pa.int64()),
            ("blocks", pa.binary()),
            ("positions", pa.binary()),
            ("skip_last", pa.list_(pa.int64())),
            ("skip_off", pa.list_(pa.int64())),
            ("skip_pos_off", pa.list_(pa.int64())),
            ("skip_max_tf", pa.list_(pa.int32())),
            ("skip_max_norm", pa.list_(pa.int32())),
        ]
    )
    tbl = pa.Table.from_pandas(postings, schema=schema, preserve_index=False)
    pq.write_table(
        tbl,
        os.path.join(seg_dir, "postings.parquet"),
        compression="zstd",
        row_group_size=4096,  # term-sorted -> min/max stats prune like a term index
    )
    n = len(urls)
    # one row per field, the default "text" field FIRST (readers that take
    # row 0 keep working); per-field norms + sum_len drive per-field BM25.
    # ``built["extra_norms"]`` carries already-merged extra-field norms
    # (the merge path, whose postings are pre-namespaced).
    extra_norms = built.get("extra_norms") or {}
    fields = ["text"] + (list(extra_built) if extra_built else []) + list(extra_norms)
    builts = (
        [built]
        + ([extra_built[f] for f in extra_built] if extra_built else [])
        + [extra_norms[f] for f in extra_norms]
    )
    norms_tbl = pa.table(
        {
            "field": pa.array(fields, pa.string()),
            "max_doc": pa.array([n] * len(fields), pa.int64()),
            "sum_len": pa.array([b["sum_len"] for b in builts], pa.int64()),
            "norms": pa.array(
                [b["norm_bytes"].tobytes() for b in builts], pa.binary()
            ),
        }
    )
    pq.write_table(norms_tbl, os.path.join(seg_dir, "norms.parquet"))
    # docids are segment-LOCAL; the manifest's doc_base (assigned at commit
    # time from the url-range bucket order) globalizes them at read time —
    # this is what lets the build run without a pre-counting job
    docmap = pa.table(
        {
            "docid": pa.array(np.arange(n), pa.int64()),
            "segment_id": pa.array([seg_id] * n, pa.string()),
            "url": pa.array(urls, pa.string()),
        }
    )
    pq.write_table(docmap, os.path.join(seg_dir, "docmap.parquet"), compression="zstd")
    return os.path.getsize(os.path.join(seg_dir, "postings.parquet"))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_segments: int | None = None,
    url_col: str = "url",
    text_col: str = "text",
    build_id: str = "b0",
    seed: int = 42,
    analyzer: str = "standard",
    fail_after_partitions: int | None = None,
    extra_fields: dict[str, str] | None = None,
) -> dict:
    """Build (or resume) an index over ``corpus`` and commit a manifest.

    ``fail_after_partitions`` injects a crash for resume tests: buckets with
    id >= the value are not built and the driver raises before commit.

    ``extra_fields`` maps additional analyzed field names to corpus columns
    (the multi-field schema of solr/example schema.xml:126-150): each field
    gets its own namespaced dictionary run (FIELD_SEP), norms byte array,
    and sum_len — per-field BM25 for edismax qf.
    """
    if num_segments is None:
        num_segments = spark.sparkContext.defaultParallelism
    t_build0 = time.time()
    try:
        input_files = corpus.inputFiles()
    except Exception:
        input_files = []

    extra_fields = extra_fields or {}
    base_df = corpus.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("text"),
        *[F.col(c).alias(f"__field_{f}") for f, c in extra_fields.items()],
    )
    bounds = compute_bucket_bounds(base_df, "url", num_segments, seed=seed)
    n_buckets = len(bounds) + 1
    df = base_df.withColumn("pid", _bucket_id_col(bounds, F.col("url")))

    seg_root = os.path.join(index_dir, "segments")
    os.makedirs(seg_root, exist_ok=True)

    _LINEAGE_PA = None  # built lazily inside the UDF (pyarrow import)

    def _bucket_meta_or_none(pid, n, urls_first, urls_last, seg_dir):
        """Resume check shared by both group-apply variants."""
        fp = _fingerprint(0, n, urls_first, urls_last)
        marker = os.path.join(seg_dir, "_COMPLETE.json")
        if os.path.exists(marker):
            with open(marker) as f:
                meta = json.load(f)
            if meta.get("fingerprint") == fp:
                meta["resumed"] = True
                return meta, fp, marker
        return None, fp, marker

    def build_bucket_arrow(key, tbl):
        """One bucket -> one segment, Arrow end-to-end: the corpus text
        NEVER materializes as Python string objects (applyInArrow hands a
        pa.Table; the tokenizer consumes the Arrow column directly) —
        cuts two object-string copies of the corpus per bucket vs the
        pandas group-apply path."""
        import pyarrow as pa
        import pyarrow.compute as pc

        pid = int(key[0].as_py() if hasattr(key[0], "as_py") else key[0])
        lineage_schema = pa.schema([
            ("segment_id", pa.string()), ("path", pa.string()),
            ("partition_id", pa.int32()), ("doc_base", pa.int64()),
            ("max_doc", pa.int64()), ("sum_len", pa.int64()),
            ("term_count", pa.int64()), ("postings_bytes", pa.int64()),
            ("first_url", pa.string()), ("last_url", pa.string()),
            ("wall_ms", pa.int64()), ("resumed", pa.bool_()),
        ])

        def out(meta):
            return pa.Table.from_pylist(
                [{c: meta[c] for c in _LINEAGE_COLS}], schema=lineage_schema
            )

        if fail_after_partitions is not None and pid >= fail_after_partitions:
            return lineage_schema.empty_table()  # simulated crash
        t0 = time.time()
        idx = pc.sort_indices(tbl.column("url"))
        tbl = tbl.take(idx)
        urls = np.asarray(tbl.column("url").to_pylist(), dtype=object)
        n = len(urls)
        seg_id = f"{build_id}_{pid:05d}"
        seg_dir = os.path.join(seg_root, f"seg_{seg_id}")
        meta, fp, marker = _bucket_meta_or_none(
            pid, n, urls[0], urls[-1], seg_dir
        )
        if meta is not None:
            return out(meta)
        built = _build_segment_pdf(tbl.column("text"), analyzer=analyzer)
        extra_built = {
            f: _build_segment_pdf(tbl.column(f"__field_{f}"), analyzer=analyzer)
            for f in extra_fields
        }
        postings_bytes = write_segment_files(
            seg_dir, built, urls, extra_built=extra_built or None
        )
        meta = {
            "segment_id": seg_id,
            "path": os.path.relpath(seg_dir, index_dir),
            "partition_id": pid,
            "doc_base": 0,  # assigned by the driver at commit time
            "max_doc": n,
            "sum_len": built["sum_len"],
            "term_count": built["term_count"],
            "postings_bytes": postings_bytes,
            "first_url": str(urls[0]),
            "last_url": str(urls[-1]),
            "wall_ms": int((time.time() - t0) * 1000),
            "resumed": False,
            "fingerprint": fp,
        }
        with open(marker + ".tmp", "w") as f:
            json.dump(meta, f)
        os.rename(marker + ".tmp", marker)
        return out(meta)

    # one bucket = one task: AQE partition-coalescing would pack several
    # small buckets into one task and serialize them — disable it for the
    # build job (the stage is CPU-bound, not shuffle-bound)
    prev_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        lineage = df.groupBy("pid").applyInArrow(
            build_bucket_arrow, LINEAGE_SCHEMA
        ).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)

    if fail_after_partitions is not None:
        raise RuntimeError(
            f"injected failure: {len(lineage)} segments completed "
            f"(resume by re-running with the same build_id)"
        )

    # doc_base assignment: buckets are disjoint url ranges, so cumsum in
    # first_url order makes docid == global lexicographic url rank
    segments = []
    acc = 0
    for r in sorted(lineage, key=lambda r: r["first_url"]):
        d = r.asDict()
        d["doc_base"] = acc
        acc += d["max_doc"]
        d["lineage"] = {
            "partition_id": d.pop("partition_id"),
            "doc_range": [d["doc_base"], d["doc_base"] + d["max_doc"] - 1],
            "first_url": d.pop("first_url"),
            "last_url": d.pop("last_url"),
            "wall_ms": d.pop("wall_ms"),
            "resumed": d.pop("resumed"),
        }
        segments.append(d)
    wall_s = time.time() - t_build0
    return manifest_mod.commit(
        index_dir,
        segments,
        extra={
            "build_id": build_id,
            "total_docs": acc,
            "analyzer": analyzer,
            "extra_fields": extra_fields,
            "metrics": {
                "build_wall_s": round(wall_s, 3),
                "docs_per_sec": round(acc / wall_s, 1) if wall_s > 0 else None,
                "segments_built": sum(
                    1 for s in segments if not s["lineage"]["resumed"]
                ),
                "segments_resumed": sum(
                    1 for s in segments if s["lineage"]["resumed"]
                ),
                "postings_bytes": sum(s["postings_bytes"] for s in segments),
            },
            "input": {
                "n_files": len(input_files),
                "files_sample": input_files[:20],
                "bucket_bounds": bounds,
            },
        },
    )
