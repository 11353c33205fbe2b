"""lucene_solr_spark benchmark: bulk build + merge, resident and Spark top-k
serving, NRT append-while-serving -- every output checked.

    python3 perfbench/run.py --workload head_or --seed 1 --seconds 4 --trace 0

Run from the repository root. One run is one closed loop with one client
thread on inputs generated from ``--seed``:

  set-up  build the corpus into 16 segments and open a searcher, three
          times (``setup_s`` is the median; the first pays the process's
          cold start); an untimed two-segment merge pays the
          merge path's cold start, then force_merge a copy of the built
          index down to 4 segments
  prime   open the searcher that serves the merged 4-segment index (posting
          lists of several 128-doc blocks, so block-max pruning has blocks
          to skip), fill its term-stats cache with the query mix's terms
          and run untimed Spark queries
  rounds  one round per NRT micro-batch, so every timing is sampled across
          the whole run: resident ``search_resident`` for a share of
          ``--seconds`` (whole cycles of the workload's query shapes), Spark
          ``search().collect()`` for the rest, then one NRT step on a copy
          of the merged index (``append_batch``, ``maybe_merge``, reopen a
          searcher, answer the same resident queries every batch)

Every timing metric is the machine's busy cpu time over the operation (see
``_stamp``), which leaves out the time a shared host's hypervisor gives
other guests; wall times go to stderr.

Checks (any failure -> ``failed`` > 0, non-zero exit): every distinct query
page equals the oracle's (docids and float32 scores, computed in a separate
process); Spark pages equal resident pages; every build has ``total_docs``
equal to the corpus rows and passes a sampled ``check_index``; every
force_merge lands on its segment target; every append grows ``max_doc`` by
the batch size; the final batch's query pages equal the oracle's over the
base corpus plus every batch (urls and float32 scores); the final NRT index
passes a sampled ``check_index``.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (see layers.py and README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))

SEGMENTS = 16
MERGED_SEGMENTS = 4
SETUP_REPS = 3
NRT_QUERIES_PER_BATCH = 5  # the first one's return marks the batch visible
CHECK_SAMPLE_TERMS = 32
DRIVER_MEMORY = "1g"
SPARK_WARMUP = 1  # untimed Spark queries (the first persists the postings)
# share of --seconds spent in the resident loop; the Spark loop gets the rest
RESIDENT_SHARE = 0.5
MIN_SPARK_PER_ROUND = 3
# the NRT oracle pages hold this many hits beyond k, so a page whose last
# score ties with unseen docs can still be checked by url
NRT_ORACLE_EXTRA = 64


def _workloads():
    from inputs import Spec

    # Each append adds 2 segments to the 4 of the merged index, and every
    # segment is below the tiered policy's 2 MB floor, so the batch count
    # alone decides merging: 3 batches make 10 segments, within the tier's
    # 10 (a 4th would merge 10 of them, ~6 s, more than the run can spend).
    return {
        # head/mid-term disjunctions and top-100
        "head_or": Spec(
            batches=3,
            shapes=("t1_head", "or2_head_mid", "or4_head", "top100_head",
                    "and2_head", "phrase"),
        ),
        # rare terms, conjunctions and phrases: skip-list leapfrog and
        # exact decode instead of block-max pruning
        "rare_and": Spec(
            batches=3,
            shapes=("t1_rare", "t1_mid", "or2_rare", "or4_mixed",
                    "and2_mid", "and3", "phrase"),
        ),
    }


# ---------------------------------------------------------------- helpers

def _pct(vals: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(vals)
    return s[min(len(s) - 1, max(0, int(round(p / 100 * len(s) + 0.5)) - 1))]


def _gmean(vals) -> float:
    vals = list(vals)
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> list[int]:
    """The machine's cpu time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


_TICK = os.sysconf("SC_CLK_TCK")


def _stamp() -> tuple[float, float]:
    """(wall seconds, busy cpu seconds of the machine) now. Busy is user,
    nice, system, irq and softirq time over all cpus: the driver, the JVM
    and Spark's Python workers together. Time the hypervisor gives other
    guests (steal) is left out, so on a shared host cpu time holds still
    where wall time moves with the neighbours."""
    t = _cpu_ticks()
    return time.perf_counter(), (t[0] + t[1] + t[2] + t[5] + t[6]) / _TICK


def _since(t0: tuple[float, float]) -> tuple[float, float]:
    """(wall, cpu) seconds since the ``_stamp()`` ``t0``."""
    w, c = _stamp()
    return w - t0[0], c - t0[1]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Checks:
    """Counts checked operations; remembers the first few failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)


def page_matches(page, expected: dict) -> bool:
    """Rank-identical: same docids in the same order, same float32 scores."""
    import numpy as np

    docids = np.asarray(page["docid"], dtype=np.int64)
    scores = np.asarray(page["score"], dtype=np.float32)
    return (
        len(docids) == len(expected["docid"])
        and np.array_equal(docids, np.asarray(expected["docid"], dtype=np.int64))
        and np.array_equal(scores, np.asarray(expected["score"], dtype=np.float32))
    )


def url_page_matches(page, expected: dict, k: int, extra: int) -> bool:
    """The page equals the oracle's top ``k`` up to the order of tied
    scores: the same float32 scores, and each url carries its oracle score.
    ``expected`` holds ``k + extra`` hits, so a url missing from it is
    accepted only if its score ties with the last of them. Docids are not
    compared: appended docs are numbered per batch, the oracle by url."""
    import numpy as np

    urls = list(page["url"])
    scores = np.asarray(page["score"], dtype=np.float32)
    exp_scores = np.asarray(expected["score"], dtype=np.float32)
    if len(urls) != min(k, len(exp_scores)) or len(set(urls)) != len(urls):
        return False
    if not np.array_equal(scores, exp_scores[:len(urls)]):
        return False
    by_url = dict(zip(expected["url"], exp_scores))
    full = len(exp_scores) == k + extra
    return all(
        by_url[u] == sc if u in by_url else (full and sc == exp_scores[-1])
        for u, sc in zip(urls, scores)
    )


# ---------------------------------------------------------------- the run

class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.checks = Checks()
        self.tracer = None
        self.spark = None
        self.m: dict[str, float] = {}      # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer metrics (trace run)
        self.t_ops: dict[str, list] = {}   # raw timings
        self.t_start = time.perf_counter()
        self.cpu0 = _cpu_ticks()

    # -- inputs and oracle ------------------------------------------------
    def make_inputs(self):
        import inputs

        self.spec = _workloads()[self.args.workload]
        base, batches = inputs.corpus(self.spec, self.args.seed)
        self.n_docs = len(base)
        self.text_bytes = int(sum(len(t.encode()) for t in base["text"]))
        self.queries = inputs.query_mix(self.spec, self.args.seed, base)
        # the NRT step's resident queries, the same every batch: consecutive
        # shapes from a whole cycle in the middle of the mix
        cycle = len(self.spec.shapes)
        q0 = len(self.queries) // 2 // cycle * cycle
        self.nrt_queries = self.queries[q0:q0 + NRT_QUERIES_PER_BATCH]
        self.corpus_dir = os.path.join(self.work, "corpus")
        inputs.write_parquet(base, self.corpus_dir)
        self.batch_dirs = []
        self.batch_sizes = []
        for i, b in enumerate(batches):
            d = os.path.join(self.work, f"batch_{i}")
            inputs.write_parquet(b, d, n_files=2)
            self.batch_dirs.append(d)
            self.batch_sizes.append(len(b))

    def start_oracle(self) -> list:
        """Three oracle processes: two split the served index's distinct
        queries over the base corpus, one computes the NRT queries' pages
        over the base corpus plus every batch."""
        from oracle_pages import page_key

        keys, distinct = set(), []
        for q in self.queries:
            if page_key(q) not in keys:
                keys.add(page_key(q))
                distinct.append(q)
        jobs = [(distinct[0::2], 0, [self.corpus_dir]),
                (distinct[1::2], 0, [self.corpus_dir]),
                (self.nrt_queries, NRT_ORACLE_EXTRA,
                 [self.corpus_dir, *self.batch_dirs])]
        self.oracle_out = []
        procs = []
        for i, (qs, extra, dirs) in enumerate(jobs):
            qpath = os.path.join(self.work, f"oracle_q{i}.json")
            with open(qpath, "w") as f:
                json.dump(qs, f)
            out = os.path.join(self.work, f"oracle_pages{i}.json")
            self.oracle_out.append(out)
            # niced, so the JVM booting beside them gets the cores first
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "oracle_pages.py"),
                 out, qpath, str(extra), *dirs],
                cwd=os.getcwd(), stdout=subprocess.DEVNULL,
                preexec_fn=lambda: os.nice(10),
            ))
        return procs

    def wait_oracle(self, procs: list) -> None:
        from oracle_pages import page_key

        pages = []
        for p, out in zip(procs, self.oracle_out):
            if p.wait(timeout=150) != 0:
                raise RuntimeError("oracle process failed")
            with open(out) as f:
                pages.append(json.load(f))
        self.expected = {**pages[0], **pages[1]}
        self.expected_nrt = pages[2]
        if self.args.corrupt_page:
            # self-test hook: one wrong expected score on the served index
            # and one on the NRT index must each fail the run
            key = page_key(self.queries[0])
            self.expected[key]["score"][0] += 1.0
            page = next(p for p in self.expected_nrt.values() if p["score"])
            page["score"][0] += 1.0
        self._log("oracle", [len(self.expected)])

    # -- spark --------------------------------------------------------------
    def start_spark(self):
        from lucene_solr_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cores = os.cpu_count() or 1
        self.spark = get_spark(
            "perfbench", cores=cores, shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self._log("spark up", [])

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = self.jvm_proc
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    # -- set-up: bulk build and force_merge ---------------------------------
    def setup(self):
        """Build the corpus into SEGMENTS segments, open a cached searcher
        and answer one resident query; SETUP_REPS times. The first
        repetition also pays the process's cold start (JIT, first tasks),
        so ``build_docs_per_cpu_s`` comes from the others."""
        from lucene_solr_spark.index.build import build_index
        from lucene_solr_spark.search.engine import SparkSearcher

        spark = self.spark
        setups, builds, mans = [], [], []
        q = self.queries[0]
        corpus = spark.read.parquet(self.corpus_dir)
        for rep in range(SETUP_REPS):
            idx = os.path.join(self.work, f"index_{rep}")
            if self.tracer is not None:
                self.tracer.op_id = f"setup{rep}"
            t0 = _stamp()
            man = build_index(spark, corpus, idx, num_segments=SEGMENTS,
                              build_id=f"bulk{rep}")
            build = _since(t0)
            searcher = SparkSearcher(spark, idx, cache=True)
            searcher.search_resident(q["q"], k=q["k"], mode=q["mode"])
            setup = _since(t0)
            self._log(f"setup rep {rep} build wall/cpu, setup wall/cpu", [*build, *setup])
            builds.append(build)
            setups.append(setup[1])
            mans.append(man)
            self.checks.check(
                man["total_docs"] == self.n_docs and len(man["segments"]) == SEGMENTS,
                f"build {rep}: total_docs {man['total_docs']}, "
                f"{len(man['segments'])} segments")
            if rep < SETUP_REPS - 1:
                shutil.rmtree(idx)
        self.index_dir = idx
        self.m["setup_s"] = statistics.median(setups)
        self.m["build_docs_per_cpu_s"] = self.n_docs / statistics.median(
            c for _, c in builds[1:])
        self.m["index_bytes_per_text_byte"] = (
            _dir_bytes(os.path.join(idx, "segments")) / self.text_bytes)
        self.t_ops["build_s"] = [w for w, _ in builds]
        self.t_ops["build_manifests"] = mans

    def force_merge(self):
        """An untimed merge of two segments pays the merge path's cold
        start; then force_merge a copy of the built index down to
        MERGED_SEGMENTS: the index the rest of the run serves."""
        from lucene_solr_spark.index.merge import force_merge

        d = os.path.join(self.work, "merge_warmup")
        shutil.copytree(self.index_dir, d)
        if self.tracer is not None:
            self.tracer.op_id = "merge_warmup"
        man = force_merge(self.spark, d, SEGMENTS - 1)
        self.checks.check(len(man["segments"]) == SEGMENTS - 1,
                          f"warm-up merge: {len(man['segments'])} segments")
        shutil.rmtree(d)
        self.merged_dir = d = os.path.join(self.work, "merged")
        shutil.copytree(self.index_dir, d)
        if self.tracer is not None:
            self.tracer.op_id = "force_merge"
        man, dt = self._merge(d, lambda: force_merge(self.spark, d, MERGED_SEGMENTS))
        self.checks.check(
            len(man["segments"]) == MERGED_SEGMENTS
            and man["fieldstats"]["max_doc"] == self.n_docs,
            f"force_merge: {len(man['segments'])} segments")
        self.m["merge_cpu_s"] = dt[1]
        self._log("merge wall/cpu", dt)

    def _merge(self, index_dir: str, merge) -> tuple[dict, tuple]:
        """Time ``merge()`` (wall, cpu), a merge entry point bound to
        ``index_dir``; record the bytes it wrote and consumed and its
        rounds (traced run)."""
        from lucene_solr_spark.index import manifest

        before = manifest.read_current(index_dir)
        n_exec = self._count("merge.execute")
        t0 = _stamp()
        merge()
        dt = _since(t0)
        after = manifest.read_current(index_dir)
        old = {s["segment_id"]: s for s in before["segments"]}
        new = {s["segment_id"]: s for s in after["segments"]}
        made = [new[k] for k in new if k not in old]
        if made:
            gone = [old[k] for k in old if k not in new]
            rec = self.t_ops.setdefault("merge_bytes", [0, 0])
            rec[0] += sum(_dir_bytes(os.path.join(index_dir, s["path"])) for s in made)
            rec[1] += sum(_dir_bytes(os.path.join(index_dir, s["path"])) for s in gone)
            self.t_ops.setdefault("merge_rounds", []).append(
                self._count("merge.execute") - n_exec)
        return after, dt

    def _log(self, phase: str, vals) -> None:
        print(f"perfbench: {phase} {[round(v, 3) for v in vals]} "
              f"t={time.perf_counter() - self.t_start:.1f}s", file=sys.stderr)

    def _count(self, name: str) -> int:
        if self.tracer is None:
            return 0
        return sum(1 for s in self.tracer.spans if s[1] == name)

    # -- serving ---------------------------------------------------------------
    def prime(self):
        """Open the searcher that serves the merged index and bring it to
        its steady state, untimed: its term-stats cache gets every term of
        the query mix in one batched read (what the first query of each
        term would leave there; a cold searcher's stats are what the NRT
        step measures), and SPARK_WARMUP untimed Spark queries persist the
        postings and warm the query plan."""
        from lucene_solr_spark.search.engine import SparkSearcher

        if self.tracer is not None:
            self.tracer.op_id = "prime"
        self.searcher = s = SparkSearcher(self.spark, self.merged_dir, cache=True)
        terms = sorted({t for q in self.queries for t in re.findall(r"[a-z]+", q["q"])})
        s._term_stats_resident(terms)
        for q in self.queries[-SPARK_WARMUP:]:
            s.search(q["q"], k=q["k"], mode=q["mode"], with_url=False).collect()
        self.resident_i, self.resident_lat, self.resident_pages = 0, [], []
        self.spark_i, self.spark_lat, self.spark_pages = 0, [], []
        self.spark_plan, self.spark_coll, self.spark_groups = [], [], []
        self._log("prime", [len(terms)])

    def serve_resident(self, seconds: float):
        """Resident queries for ``seconds``, on to the end of a cycle of
        the workload's shapes and at least one whole cycle, so every shape
        has the same number of samples."""
        s = self.searcher
        tr = self.tracer
        cycle = len(self.spec.shapes)
        deadline = time.perf_counter() + seconds
        first = self.resident_i
        while (time.perf_counter() < deadline or self.resident_i - first < cycle
               or self.resident_i % cycle):
            i = self.resident_i
            q = self.queries[i % len(self.queries)]
            if tr is None:
                t0 = _stamp()
                r = s.search_resident(q["q"], k=q["k"], mode=q["mode"])
                self.resident_lat.append((q["shape"], _since(t0)))
            else:
                r = self._traced_pair(s, q, i)
            self.resident_pages.append((q, r))
            self.resident_i += 1

    def _traced_pair(self, s, q, i):
        """Trace run: each query runs traced and untraced back to back (the
        order alternates) so the paired difference is the tracing overhead."""
        tr = self.tracer
        res = {}
        for traced in ((True, False) if i % 2 == 0 else (False, True)):
            tr.enabled = traced
            if traced:
                with tr.span("query", op_id=f"q{i}", shape=q["shape"]) as attrs:
                    t0 = time.perf_counter()
                    r = s.search_resident(q["q"], k=q["k"], mode=q["mode"])
                    dt = time.perf_counter() - t0
                    attrs["hits"] = len(r)
            else:
                t0 = time.perf_counter()
                r = s.search_resident(q["q"], k=q["k"], mode=q["mode"])
                dt = time.perf_counter() - t0
            res[traced] = (r, dt)
        tr.enabled = True
        self.t_ops.setdefault("overhead_pairs", []).append(
            (res[True][1], res[False][1]))
        return res[True][0]

    def serve_spark(self, seconds: float):
        s = self.searcher
        sc = self.spark.sparkContext
        deadline = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < deadline or n < MIN_SPARK_PER_ROUND:
            i = self.spark_i
            q = self.queries[i % len(self.queries)]
            group = f"perfbench-q{i}"
            if self.tracer is not None:
                self.tracer.op_id = f"spark{i}"
                sc.setJobGroup(group, group)
            t0 = _stamp()
            df = s.search(q["q"], k=q["k"], mode=q["mode"], with_url=False)
            plan = _since(t0)[0]
            rows = df.collect()
            dt = _since(t0)
            r = {"docid": [row["docid"] for row in rows],
                 "score": [row["score"] for row in rows]}
            self.spark_lat.append(dt)
            self.spark_plan.append(plan)
            self.spark_coll.append(dt[0] - plan)
            self.spark_pages.append((q, r))
            if self.tracer is not None:
                self.spark_groups.append(group)
            self.spark_i += 1
            n += 1
        if self.tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def serving_metrics(self):
        if self.resident_lat:
            # every resident window ran whole cycles of the shapes, so the
            # mean is over the workload's mix in fixed proportions
            self.m["query_cpu_ms"] = statistics.mean(
                c for _, (_, c) in self.resident_lat) * 1e3
            by_shape = defaultdict(list)
            for shape, (w, _) in self.resident_lat:
                by_shape[shape].append(w)
            # wall latency, on stderr only: per-shape percentiles, geometric
            # mean over the shapes
            self._log(f"resident wall p50/p75 ms ({len(self.resident_lat)} queries)", [
                _gmean(statistics.median(v) for v in by_shape.values()) * 1e3,
                _gmean(_pct(v, 75) for v in by_shape.values()) * 1e3])
        self.m["spark_query_cpu_ms"] = statistics.median(
            c for _, c in self.spark_lat) * 1e3
        self._log("spark wall", [w for w, _ in self.spark_lat])
        if self.tracer is None:
            return
        st = self.spark.sparkContext.statusTracker()
        nj, ns, nt = [], [], []
        for g in self.spark_groups:
            ids = st.getJobIdsForGroup(g)
            stages = [sid for j in ids for sid in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])]
            tasks = 0
            for sid in stages:
                info = st.getStageInfo(sid)
                tasks += info.numTasks if info else 0
            nj.append(len(ids))
            ns.append(len(stages))
            nt.append(tasks)
        self.layer["spark.jobs_per_query"] = statistics.mean(nj)
        self.layer["spark.stages_per_query"] = statistics.mean(ns)
        self.layer["spark.tasks_per_query"] = statistics.mean(nt)
        self.layer["engine.plan_ms"] = statistics.median(self.spark_plan) * 1e3
        self.layer["engine.collect_ms"] = statistics.median(self.spark_coll) * 1e3

    # -- NRT append-while-serving ------------------------------------------------
    def nrt_start(self):
        from lucene_solr_spark.index import manifest

        self.nrt_dir = d = os.path.join(self.work, "nrt_index")
        shutil.copytree(self.merged_dir, d)
        self.nrt_max_doc = manifest.read_current(d)["fieldstats"]["max_doc"]
        self.nrt_visible, self.nrt_qlat, self.nrt_segs = [], [], []
        self.nrt_ingest = []

    def nrt_batch(self, b: int):
        """Append batch ``b``, let the tiered policy merge, reopen a
        searcher and answer the NRT queries on it."""
        from lucene_solr_spark.index.merge import maybe_merge
        from lucene_solr_spark.search.engine import SparkSearcher
        from lucene_solr_spark.streaming import incremental

        spark, d, tr = self.spark, self.nrt_dir, self.tracer
        bsize = self.batch_sizes[b]
        batch = spark.read.parquet(self.batch_dirs[b])
        op = f"batch{b}"
        if tr is not None:
            tr.op_id = op
        t0 = _stamp()
        incremental.append_batch(spark, batch, d, batch_id=b + 1)
        append = _since(t0)
        man, merge = self._merge(d, lambda: maybe_merge(spark, d))
        ingest = (append[0] + merge[0], append[1] + merge[1])
        # visible = append + merge + reopen + first query (the merge
        # bookkeeping between them is the benchmark's, not counted)
        t_open = _stamp()
        searcher = SparkSearcher(spark, d)
        pages = []
        for j, q in enumerate(self.nrt_queries):
            if tr is not None:
                tr.op_id = f"{op}.q{j}"
            ts = _stamp()
            r = searcher.search_resident(q["q"], k=q["k"], mode=q["mode"])
            pages.append((q, r))
            if j == 0:
                opened = _since(t_open)
                self.nrt_visible.append((ingest[0] + opened[0], ingest[1] + opened[1]))
            else:
                self.nrt_qlat.append(_since(ts))
        self.nrt_ingest.append(ingest)
        self.nrt_segs.append(len(man["segments"]))
        self.checks.check(
            man["fieldstats"]["max_doc"] == self.nrt_max_doc + bsize,
            f"nrt batch {b}: max_doc {man['fieldstats']['max_doc']} != "
            f"{self.nrt_max_doc + bsize}")
        self.nrt_max_doc += bsize
        self.nrt_searcher, self.nrt_pages = searcher, pages

    def nrt_finish(self):
        from lucene_solr_spark.index.check import check_index, CheckIndexError

        try:
            check_index(self.nrt_dir, sample_terms=CHECK_SAMPLE_TERMS)
            ok = True
        except CheckIndexError as e:
            ok = False
            print(f"nrt check_index: {e}", file=sys.stderr)
        self.checks.check(ok, "nrt check_index")
        self.m["ingest_docs_per_cpu_s"] = (
            sum(self.batch_sizes) / sum(c for _, c in self.nrt_ingest))
        self.m["visible_cpu_s"] = statistics.median(c for _, c in self.nrt_visible)
        self.m["nrt_query_cpu_ms"] = statistics.mean(c for _, c in self.nrt_qlat) * 1e3
        self.t_ops["nrt_segments"] = self.nrt_segs
        self._log("nrt segments", self.nrt_segs)
        self._log("nrt visible wall", [w for w, _ in self.nrt_visible])
        self._log("nrt query wall ms", [_gmean(w for w, _ in self.nrt_qlat) * 1e3])

    def rounds(self, seconds: float):
        """One round per NRT batch: resident serving, Spark serving, one
        NRT step. Spreading each timing's samples over the run keeps a
        slow spell of a shared host from landing on one metric alone."""
        n = self.spec.batches
        self.nrt_start()
        for b in range(n):
            self.serve_resident(seconds * RESIDENT_SHARE / n)
            self.serve_spark(seconds * (1 - RESIDENT_SHARE) / n)
            self.nrt_batch(b)
        self.serving_metrics()
        self.nrt_finish()

    # -- output checks ------------------------------------------------------------
    def verify(self):
        from lucene_solr_spark.index.check import check_index, CheckIndexError
        from oracle_pages import page_key

        resident = {}
        for q, r in self.resident_pages:
            key = page_key(q)
            resident.setdefault(key, r)
            self.checks.check(page_matches(r, self.expected[key]),
                              f"resident page != oracle: {key}")
        for q, r in self.spark_pages:
            key = page_key(q)
            self.checks.check(page_matches(r, self.expected[key]),
                              f"spark page != oracle: {key}")
            if key not in resident:
                resident[key] = self.searcher.search_resident(
                    q["q"], k=q["k"], mode=q["mode"])
            self.checks.check(page_matches(r, resident[key]),
                              f"spark page != resident page: {key}")
        for q, r in self.nrt_pages:
            key = page_key(q)
            ru = self.nrt_searcher.search_resident(
                q["q"], k=q["k"], mode=q["mode"], with_url=True)
            self.checks.check(
                page_matches(r, ru)
                and url_page_matches(ru, self.expected_nrt[key], q["k"], NRT_ORACLE_EXTRA),
                f"nrt page != oracle over base + batches: {key}")
        for d in (self.index_dir, self.merged_dir):
            try:
                rep = check_index(d, sample_terms=CHECK_SAMPLE_TERMS)
                ok = rep["total_docs"] == self.n_docs
            except CheckIndexError as e:
                ok = False
                print(f"check_index {d}: {e}", file=sys.stderr)
            self.checks.check(ok, f"check_index {os.path.basename(d)}")

    # -- driver -------------------------------------------------------------------
    def run(self):
        from concurrent.futures import ThreadPoolExecutor

        procs = []
        try:
            # the JVM boots while the inputs are generated and the oracle starts
            with ThreadPoolExecutor(1) as pool:
                spark_up = pool.submit(self.start_spark)
                try:
                    self.make_inputs()
                    procs = self.start_oracle()
                finally:
                    spark_up.result()
            self.wait_oracle(procs)
            self.measure()
        finally:
            if self.spark is not None:
                self.stop_spark()
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()

    def measure(self):
        if self.args.trace:
            import layers

            self.tracer = layers.install()
        self.setup()
        self.force_merge()
        self.prime()
        self.rounds(self.args.seconds)
        if self.tracer is not None:
            layers.sampled_build(self)
            self.tracer.enabled = False
        self.verify()
        self._log("verify", [])
        rss = (_rss_mb("self"), _rss_mb(self.jvm_proc.pid))
        self.m["peak_rss_mb"] = sum(rss)
        # what the JVM heap still holds after a full collection (the served
        # searcher's persisted postings among it): peak RSS follows GC
        # sizing, this follows what the program keeps
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.m["jvm_live_heap_mb"] = heap.getHeapMemoryUsage().getUsed() / 2**20
        self._log("rss driver/jvm, live heap", [*rss, self.m["jvm_live_heap_mb"]])
        # diagnostic: the share of cpu time the hypervisor gave to other
        # guests during the run; every timing of a run moves with it
        d = [b - a for a, b in zip(self.cpu0, _cpu_ticks())]
        self._log("steal %", [100.0 * d[7] / max(sum(d), 1)])
        self.searcher._postings.unpersist()
        if self.tracer is not None:
            self.tracer.restore()
            self.layer.update(layers.derive(self))
            self.tracer.write(os.path.join(
                os.path.dirname(self.work),
                f"spans-{self.args.workload}-{self.args.seed}.jsonl"))


def _declared(kind: str) -> dict:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-page", action="store_true",
                    help="self-test: corrupt one expected page (the run must fail)")
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the driver gets the hash seed Spark already gives its Python
        # workers, so set/dict layouts (and their timings) repeat across runs
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "lucene_solr_spark")):
        print("perfbench: run from the repository root (lucene_solr_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(_workloads())}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    bench = Bench(args, work)
    try:
        bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    c = bench.checks
    kind = "per_layer" if args.trace else "end_to_end"
    units = _declared(kind)
    values = bench.layer if args.trace else bench.m
    missing = sorted(k for k in units
                     if not math.isfinite(values.get(k, float("nan"))))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    for msg in c.messages:
        print(f"FAILED: {msg}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed}: error_rate="
          f"{c.failed / max(c.attempted, 1):.6f} ({c.failed}/{c.attempted})")
    print(json.dumps({
        "correct": c.failed == 0,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if c.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
