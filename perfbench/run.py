"""Serving and churn benchmark of the full-text engine.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 8 --trace 0

Run from the repository root. One run is one process: it starts a Spark
session (``local[<cores>]``), generates the corpus, builds and loads the
index, warms it, then measures one workload with a single closed-loop
client (the next operation is sent only when the previous one has
returned). It checks a fixed sample of the run's queries against the
BM25 oracle and prints every metric as ``metric <name> <value> <unit>``
and, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer boundaries (see ``tracing.py``), reports the per-layer
metrics and writes ``perfbench/out/trace-<workload>.json``. Workloads,
sizes and the reasons for them are in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402
from tracing import LAYERS, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Both workloads serve a 5,000-doc index (about 1.06M tokens, 0.57M
# postings, 1.2 MB of compressed blocks). The size is set by the time
# budget of a run: JVM start, first Python workers and the cold build
# cost about 22 s at any corpus size up to 10k docs, and the oracle
# check grows with the corpus (about 0.55 s per 1k docs).
WORKLOADS = {
    # Zipf queries against caches far larger than the index, after a
    # warm-up pass over the same stream: cache hits, parse and dense
    # scoring only.
    "serve-hot": {"stream": "zipf", "stream_len": 1000, "cache_mb": None,
                  "prefetch": True, "warmup": None, "warm_builds": 0,
                  "delete_every": 0},
    # Writes beside reads on an index larger than its caches: two warm
    # rebuilds of the corpus, then tail-term queries against 0.1 MB
    # caches (parquet reads and varint decode on nearly every probe)
    # with a 50-id delete every 100 queries.
    "churn-cold": {"stream": "tail", "stream_len": 4000, "cache_mb": 0.1,
                   "prefetch": False, "warmup": 200, "warm_builds": 2,
                   "delete_every": 100},
}
N_DOCS = 5000
# Index.warm pins the posting rows of this many highest-df terms (about
# 84% of Zipf term draws); the warm-up pass fills in the rest. Pinning
# all 10k terms costs ~14 s, mostly per-term pandas memory_usage.
WARM_TOP_TERMS = 1000
N_BUCKETS = 16
TOP_K = 10
DELETE_BATCH = 50
# Deletes after serve-hot's timed phase, so that every
# workload reports delete latency without touching its query path.
BURST_DELETES = 9
# At least this many timed queries; churn-cold (~7 ms a query plus its
# deletes) stops here. The tail metric is the p95: a p99 over 12
# samples moved by up to 60% between runs of the same code, while 60
# samples beyond the p95 hold it steady.
MIN_SAMPLES = 1200
CHECK_QUERIES = 25

END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "query_p95_ms": "ms", "qps": "1/s",
    "build_docs_per_s": "docs/s", "index_bytes_per_posting": "B",
    "delete_p50_ms": "ms", "driver_peak_rss_mb": "MB",
}
BUILD_PHASES = ("max_id", "wave0_plan", "wave0_encode_write",
                "wave0_term_stats_counters", "side_jobs_join", "final_stats",
                "lexicon")
PER_LAYER = {
    "session.start_s": "s", "corpus.gen_s": "s", "build.cold_s": "s",
    "build.warm_s": "s", "build.spark_jobs": "count",
    **{f"build.phase.{p}_s": "s" for p in BUILD_PHASES},
    "index.postings": "count", "index.blocks": "count",
    "index.compressed_bytes": "B", "index.disk_bytes": "B",
    "index.warm_s": "s", "parse.self_ms": "ms", "postings.fetch_ms": "ms",
    "postings.miss_ratio": "1", "codec.decode_ms": "ms",
    "codec.postings_decoded": "count", "score.self_ms": "ms",
    "delete.ms": "ms", "delete.spark_jobs": "count",
    "tombstone.check_ms": "ms", "py.gc_pause_ms": "ms",
    "query.cpu_share": "1", "query.samples": "count",
    "trace.overhead_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="corpus size (smaller only for the smoke test)")
    p.add_argument("--perturb-check", action="store_true",
                   help="perturb one engine score before the oracle "
                        "comparison (proves the check can fail)")
    return p.parse_args(argv)


def make_queries(rng, kind: str, n: int, vocab: int, zipf_s: float) -> list[str]:
    """``n`` queries of 1-3 terms (a third of each size). ``zipf``: terms
    drawn from the corpus's own Zipf law; ``tail``: uniform over
    generator ranks 500..vocab-1 (rank i is word ``w{i:05d}``, about its
    df rank). Draws are stratified (one uniform per equal slice of
    [0, 1), shuffled), so streams of different seeds hold nearly the
    same mix of head and tail terms and differ only in which ones."""
    sizes = rng.permutation(np.arange(n) % 3 + 1)
    m = int(sizes.sum())
    u = (rng.permutation(m) + rng.random(m)) / m
    if kind == "zipf":
        w = 1.0 / np.power(np.arange(1, vocab + 1, dtype=np.float64), zipf_s)
        ids = np.searchsorted(np.cumsum(w / w.sum()), u).clip(0, vocab - 1)
    else:
        ids = 500 + (u * (vocab - 500)).astype(np.int64)
    words = [f"w{int(i):05d}" for i in ids]
    out, at = [], 0
    for s in sizes:
        out.append(" ".join(words[at:at + s]))
        at += s
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def same_result(got, want) -> bool:
    """Rank for rank and score for score (float64, 1e-9 relative)."""
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-9)
        for (gd, gs), (wd, ws) in zip(got, want))


class Run:
    """One benchmark run; holds the session and everything it measured."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.rng = np.random.default_rng(args.seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.t: dict[str, float] = {}
        self.builds: list[dict] = []
        self.tracer = None
        self.spark = None
        # engine modules; callables are looked up on them at call time,
        # so tracing wrappers installed later apply
        import hadoop_search_engine_spark.corpus as corpus
        import hadoop_search_engine_spark.functions.codec as codec
        import hadoop_search_engine_spark.operators.index_build as index_build
        import hadoop_search_engine_spark.operators.index_maint as index_maint
        import hadoop_search_engine_spark.operators.query_exec as query_exec
        import hadoop_search_engine_spark.session as session

        self.corpus, self.codec, self.session = corpus, codec, session
        self.index_build, self.index_maint = index_build, index_maint
        self.qe = query_exec

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(f"{what}: {exc!r}" if exc else what)

    def _jobs(self, group: str) -> int:
        sc = self.spark.sparkContext
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def _build(self, label: str) -> float:
        """One build_index of the corpus; returns its wall seconds.
        Traced runs also keep its Spark job count and the engine's
        ``[build-phase]`` timings."""
        tracer = self.tracer
        if tracer is not None:
            self.spark.sparkContext.setJobGroup(label, label)
        buf = io.StringIO()
        t = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            self.index_build.build_index(self.spark, self.docs, self.index_dir,
                                         n_buckets=N_BUCKETS)
        dt = time.perf_counter() - t
        if tracer is not None:
            phases = {
                re.sub(r"[^A-Za-z0-9_]", "_", m[1]): float(m[2])
                for m in re.finditer(r"\[build-phase\] (\S+): ([0-9.]+)s",
                                     buf.getvalue())
            }
            self.builds.append({"jobs": self._jobs(label), "phases": phases})
        return dt

    def _delete(self, label: str) -> float:
        """delete_docs of the next DELETE_BATCH ids; returns its wall
        seconds. Traced runs record its span and Spark job count."""
        ids = self.next_delete_ids()
        tracer = self.tracer
        if tracer is not None:
            self.spark.sparkContext.setJobGroup(label, label)
            tracer.op_id = label
            tracer.active = True
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.index_maint.delete_docs(self.idx, ids)
        except Exception as e:  # counted, the run goes on
            self.fail("delete_docs", e)
        dt = time.perf_counter() - t
        if tracer is not None:
            tracer.active = False
            self.delete_jobs.append(self._jobs(label))
        self.deleted.update(int(i) for i in ids)
        return dt

    def setup(self) -> None:
        from pyspark.sql import functions as F

        args, wl = self.args, self.wl
        cores = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "spark-local")
        t = time.perf_counter()
        self.spark = self.session.get_spark(
            master=f"local[{cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            })
        self.t["session"] = time.perf_counter() - t

        t = time.perf_counter()
        # doc_id is the generator's row index, carried in the url
        self.docs = self.corpus.gen_documents(
            self.spark, args.docs, n_partitions=cores).select(
            F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long").alias("doc_id"),
            "text").persist()
        self.docs.count()
        self.t["corpus"] = time.perf_counter() - t

        self.index_dir = os.path.join(self.work, "index")
        self.t["build_cold"] = self._build("build-cold")
        self.warm_builds = [self._build(f"build-warm-{i}")
                            for i in range(wl["warm_builds"])]

        if wl["cache_mb"] is not None:
            os.environ["SPARK_GRAFT_POSTINGS_CACHE_MB"] = str(wl["cache_mb"])
            os.environ["SPARK_GRAFT_DECODE_CACHE_MB"] = str(wl["cache_mb"])
        t = time.perf_counter()
        self.idx = self.qe.Index.load(self.spark, self.index_dir)
        self.idx.warm(top_terms=WARM_TOP_TERMS if wl["prefetch"] else 0)
        self.t["index_warm"] = time.perf_counter() - t
        # setup_s: process start -> index served. Warm builds are the
        # measured operation of churn, so they are not set-up.
        self.t["setup"] = (time.perf_counter() - T_START) - sum(self.warm_builds)

    def index_stats(self) -> None:
        self.report = self.idx.report()
        self.disk_bytes = dir_bytes(self.index_dir)

    def timed_phase(self, queries: list[str]) -> None:
        """Closed loop, one client: until ``--seconds`` have passed and
        at least MIN_SAMPLES queries completed. In traced runs every
        other query is traced; the untraced ones give the overhead."""
        wl, tracer = self.wl, self.tracer
        search = self.qe.search_topk_rows
        lat, lat_traced, del_lat = [], [], []
        gc_pause = [0.0, 0.0]

        def on_gc(phase, _info):
            if phase == "start":
                gc_pause[1] = time.perf_counter()
            else:
                gc_pause[0] += time.perf_counter() - gc_pause[1]

        if tracer is not None:
            gc.callbacks.append(on_gc)
        n = 0
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        while True:
            q = queries[n % len(queries)]
            traced = tracer is not None and n % 2 == 0
            if traced:
                tracer.op_id = f"q{n}"
                tracer.active = True
            self.attempted += 1
            a = time.perf_counter()
            try:
                search(self.idx, q, k=TOP_K)
            except Exception as e:  # counted, the run goes on
                self.fail(f"query {q!r}", e)
            b = time.perf_counter()
            if tracer is not None:
                tracer.active = False
            (lat_traced if traced else lat).append(b - a)
            n += 1
            if wl["delete_every"] and n % wl["delete_every"] == 0:
                del_lat.append(self._delete(f"delete-{len(del_lat)}"))
            if b - t0 >= self.args.seconds and n >= MIN_SAMPLES:
                break
        wall = time.perf_counter() - t0
        cpu = time.process_time() - cpu0
        if tracer is not None:
            gc.callbacks.remove(on_gc)
        self.rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.lat = lat
        self.lat_traced = lat_traced
        self.del_lat = del_lat
        self.n_queries = n
        self.qps = n / wall
        self.gc_pause_s = gc_pause[0]
        self.cpu_share = cpu / wall

    def next_delete_ids(self):
        at = len(self.deleted)
        ids = self.delete_order[at:at + DELETE_BATCH]
        if len(ids) < DELETE_BATCH:
            raise RuntimeError("delete pool exhausted: corpus too small for the run")
        return ids

    def check(self, queries: list[str]) -> None:
        """Compare a fixed sample of the run's queries with the oracle,
        excluding deleted docs. Also checks the index's posting count."""
        from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle

        pdf = self.docs.toPandas()
        oracle = BM25Oracle(list(zip(pdf["doc_id"].tolist(), pdf["text"].tolist())))
        del pdf
        self.attempted += 1
        want_postings = sum(len(p) for p in oracle.postings.values())
        if self.report["postings"] != want_postings or self.report["n_docs"] != oracle.n_docs:
            self.fail(f"index holds {self.report['postings']} postings / "
                      f"{self.report['n_docs']} docs, oracle {want_postings} / {oracle.n_docs}")
        allowed = (set(oracle.doc_len) - self.deleted) if self.deleted else None
        step = max(1, len(queries) // CHECK_QUERIES)
        for i, q in enumerate(queries[::step][:CHECK_QUERIES]):
            self.attempted += 1
            try:
                got = self.qe.search_topk_rows(self.idx, q, k=TOP_K)
            except Exception as e:
                self.fail(f"check query {q!r}", e)
                continue
            if self.args.perturb_check and i == 0 and got:
                got = [(got[0][0], got[0][1] * (1 + 1e-6))] + got[1:]
            want = oracle.search(q, k=TOP_K, allowed=allowed)
            if not same_result(got, want):
                self.fail(f"query {q!r}: engine {got[:3]}... oracle {want[:3]}...")

    def execute(self) -> None:
        args, wl = self.args, self.wl
        vocab, zipf_s = self.corpus.VOCAB_SIZE, self.corpus.ZIPF_S
        queries = make_queries(self.rng, wl["stream"], wl["stream_len"], vocab, zipf_s)
        self.delete_order = self.rng.permutation(args.docs).astype(np.int64)
        self.deleted: set[int] = set()
        self.delete_jobs: list[int] = []

        if args.trace:
            self.tracer = self._install_tracer(Tracer())
        self.setup()
        self.index_stats()
        if self.tracer is not None:
            self.tracer.active = False
            self.tracer.counters.clear()

        t = time.perf_counter()
        if wl["delete_every"]:
            # the first delete of a process compiles its Spark paths;
            # it also puts the timed phase on the tombstone branch
            self._delete("delete-warmup")
        for q in queries[: wl["warmup"] or len(queries)]:
            self.qe.search_topk_rows(self.idx, q, k=TOP_K)
        gc.collect()
        self.t["warmup"] = time.perf_counter() - t
        self.timed_phase(queries)
        t = time.perf_counter()
        self.check(queries)
        self.t["check"] = time.perf_counter() - t
        if not wl["delete_every"]:
            self._delete("delete-warmup")
            self.del_lat = [self._delete(f"delete-{i}") for i in range(BURST_DELETES)]

    def _install_tracer(self, tracer):
        qe = self.qe
        os.environ["SPARK_GRAFT_PROFILE"] = "1"

        def probe_fetch(tr, index, hit_hashes):
            cache = index._pcache  # the postings LRU; None before first use
            wanted = set(int(h) for h in hit_hashes)
            tr.count("probed", len(wanted))
            tr.count("missed", sum(1 for h in wanted if cache is None or h not in cache))

        def probe_decode(tr, doc_bufs, tf_bufs, ns, bases):
            tr.count("postings_decoded", int(sum(ns)))

        tracer.wrap(self.session, "get_spark", "session.get_spark")
        tracer.wrap(self.corpus, "gen_documents", "corpus.gen_documents")
        tracer.wrap(self.index_build, "build_index", "index_build.build_index")
        tracer.wrap(qe.Index, "load", "Index.load")
        tracer.wrap(qe.Index, "warm", "Index.warm")
        tracer.wrap(qe, "search_topk_rows", "query_exec.search_topk_rows")
        tracer.wrap(qe, "parse_query_boosted", "query_exec.parse_query_boosted")
        tracer.wrap(qe, "parse_query", "query_exec.parse_query")
        tracer.wrap(qe, "tokenize", "query_exec.tokenize")
        tracer.wrap(qe.Index, "postings_rows_by_term",
                    "Index.postings_rows_by_term", probe=probe_fetch)
        tracer.wrap(self.codec, "decode_blocks", "codec.decode_blocks",
                    probe=probe_decode)
        tracer.wrap(qe.Index, "tombstone_count", "Index.tombstone_count")
        tracer.wrap(qe.Index, "tombstone_array", "Index.tombstone_array")
        tracer.wrap(self.index_maint, "delete_docs", "index_maint.delete_docs")
        tracer.active = True
        tracer.op_id = "setup"
        return tracer

    # -- metrics
    def end_to_end(self) -> dict:
        lat = np.asarray(self.lat) * 1e3
        builds = self.warm_builds or [self.t["build_cold"]]
        return {
            "setup_s": self.t["setup"],
            "query_p50_ms": float(np.percentile(lat, 50)),
            "query_p95_ms": float(np.percentile(lat, 95)),
            "qps": self.qps,
            "build_docs_per_s": self.args.docs / median(builds),
            "index_bytes_per_posting": self.disk_bytes / self.report["postings"],
            "delete_p50_ms": median(self.del_lat) * 1e3,
            "driver_peak_rss_mb": self.rss_mb,
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        traced_q = len(self.lat_traced)
        layer_s: dict[str, float] = {}
        for span, self_s in zip(tr.spans, tr.self_times()):
            if str(span[4]).startswith("q"):  # spans of timed queries
                layer = LAYERS[span[0]]
                layer_s[layer] = layer_s.get(layer, 0.0) + self_s

        def per_q(layer: str) -> float:
            return layer_s.get(layer, 0.0) * 1e3 / traced_q

        measured = self.builds[1:] or self.builds[:1]
        rep = self.report
        return {
            "index.postings": rep["postings"], "index.blocks": rep["blocks"],
            "index.compressed_bytes": rep["compressed_bytes"],
            "index.disk_bytes": self.disk_bytes,
            "session.start_s": self.t["session"],
            "corpus.gen_s": self.t["corpus"],
            "build.cold_s": self.t["build_cold"],
            "build.warm_s": median(self.warm_builds),
            "build.spark_jobs": median([b["jobs"] for b in measured]),
            **{f"build.phase.{p}_s": median([b["phases"].get(p, 0.0) for b in measured])
               for p in BUILD_PHASES},
            "index.warm_s": self.t["index_warm"],
            "parse.self_ms": per_q("parse"),
            "postings.fetch_ms": per_q("postings.fetch"),
            "postings.miss_ratio": tr.counters.get("missed", 0) / max(1, tr.counters.get("probed", 0)),
            "codec.decode_ms": per_q("codec.decode"),
            "codec.postings_decoded": tr.counters.get("postings_decoded", 0) / traced_q,
            "score.self_ms": per_q("score"),
            "delete.ms": median(self.del_lat) * 1e3,
            "delete.spark_jobs": median(self.delete_jobs),
            "tombstone.check_ms": per_q("tombstone.check"),
            "py.gc_pause_ms": self.gc_pause_s * 1e3 / self.n_queries,
            "query.cpu_share": self.cpu_share,
            "query.samples": self.n_queries,
            "trace.overhead_ms": float(
                np.median(self.lat_traced) - np.median(self.lat)) * 1e3,
        }

    def cache_bytes(self) -> dict:
        """Bytes held by the index's two serving LRUs at the end of the
        run, against their budgets (private attributes, read-only)."""
        tfc = self.idx._tfc
        return {
            "postings_cache_bytes": int(self.idx._pcache_nbytes),
            "postings_cache_budget": self.qe._postings_cache_bytes(),
            "decode_cache_bytes": int(tfc.nbytes) if tfc is not None else 0,
            "decode_cache_budget": self.qe._decode_cache_bytes(),
        }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hadoop_search_engine_spark as engine

        found = os.path.abspath(engine.__file__).startswith(ROOT + os.sep)
    except ImportError:
        found = False
    if not found:
        print(f"perfbench: no engine package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "out", f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch space, the JVM's and Python's temp files and the
    # executors' Python path all stay inside the checkout; the JVMs keep
    # no perf-data file (it would go to /tmp).
    os.environ.update({
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    for k in ("SPARK_GRAFT_POSTINGS_CACHE_MB", "SPARK_GRAFT_DECODE_CACHE_MB",
              "SPARK_GRAFT_PROFILE"):
        os.environ.pop(k, None)

    run = Run(args, work)
    try:
        run.execute()
        e2e = run.end_to_end()
        metrics = run.per_layer() if args.trace else e2e
        units = PER_LAYER if args.trace else END_TO_END
        if args.trace:
            with open(os.path.join(HERE, "out", f"trace-{args.workload}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "per_layer": metrics, "caches": run.cache_bytes(),
                           **run.tracer.dump()}, f)
    finally:
        if run.tracer is not None:
            run.tracer.active = False
            run.tracer.unwrap_all()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in run.errors:
        print(f"error {e}")
    print("note phase_s " + " ".join(f"{k}={v:.2f}" for k, v in run.t.items()))
    for name, value in metrics.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    print(f"metric ops_failed_ratio {run.failed / run.attempted:.6g} 1")
    print(f"note timed_queries {run.n_queries}, {len(run.lat)} untraced; "
          f"{sum(1 for x in run.lat if x * 1e3 > e2e['query_p95_ms'])} lie beyond the p95")
    if args.trace:
        print(f"note tracing_overhead_ms {metrics['trace.overhead_ms']:.4f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
