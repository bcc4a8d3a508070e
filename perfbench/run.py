#!/usr/bin/env python3
"""Benchmark: Lucene-style segmented index build, then BM25 top-10
block-max WAND queries, through the library's public functions.

    python3 perfbench/run.py --workload query_head --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. A per-run record (host, set-up breakdown, sample
counts) and, for traced runs, the span file are written under
``.bench_build/perfbench/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_TURNS = 20_000       # corpus size (synth_transcripts rows)
N_BUILDS = 2           # timed, warm set-up builds of the corpus; the last is queried
NUM_SEGMENTS = 4
SEG_GROUP_SIZE = 1     # 4 leaves (seg_groups) per query
N_BUCKETS = 8
K = 10
MIN_QUERIES = 12       # timed queries per run, at least, in whole passes
RESUME_FAIL_SEG = 0    # segment whose task is made to fail in the resume check

WORKLOADS = ("query_head", "query_tail")

# run in a child process: pickle (OracleIndex, text bytes) of a staged corpus
ORACLE_JOB = """
import pickle, sys
from workload import oracle_for
with open(sys.argv[2], "wb") as f:
    pickle.dump(oracle_for(sys.argv[1]), f)
"""


def _loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _answer(rows) -> tuple:
    import numpy as np

    ids = tuple(int(r["doc_id"]) for r in rows)
    bits = tuple(np.asarray([r["score"] for r in rows], np.float32).view(np.uint32).tolist())
    return ids, bits


def _oracle_answer(oracle_index, terms, mode) -> tuple:
    import numpy as np

    from lucene_solr_spark.search.oracle import oracle_topk

    top = oracle_topk(oracle_index, list(terms), mode, k=K)
    ids = tuple(int(x) for x in top["doc_id"])
    bits = tuple(np.asarray(top["score"], np.float32).view(np.uint32).tolist())
    return ids, bits


class Run:
    """One benchmark run: set-up, the timed closed loop, then the
    untimed correctness checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from spans import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.off = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.info: dict = {}
        self.oracle_proc = None

    # -- helpers -----------------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def _build(self, corpus, index_dir: str, **kw):
        from lucene_solr_spark.index.segments import build_segmented_index

        index = build_segmented_index(
            corpus, index_dir, num_segments=NUM_SEGMENTS,
            seg_group_size=SEG_GROUP_SIZE, n_buckets=N_BUCKETS, **kw,
        )
        # with_doc_ids persists the ordered corpus; drop it so repeated
        # builds in one session start from the same memory state
        self.spark.catalog.clearCache()
        return index

    def _traced_build(self, corpus, index_dir: str):
        """A build with a span around each layer's public function. The
        build still goes through build_segmented_index; the layer
        functions it looks up at call time are wrapped for its duration."""
        from pyspark.sql import DataFrameWriter

        import lucene_solr_spark.index.merge as merge_mod
        import lucene_solr_spark.index.segments as seg_mod
        import lucene_solr_spark.index.snapshot as snap_mod
        from spans import patched, traced_call

        tr = self.tracer
        build_span = tr.current()

        def stored(orig):
            # the stored-fields write runs on a thread of its own, while
            # the calling thread is inside build_segments
            def inner(writer, path, *a, **kw):
                if str(path).endswith("/stored"):
                    with tr.span("stored", parent=build_span):
                        return orig(writer, path, *a, **kw)
                return orig(writer, path, *a, **kw)

            return inner

        with patched(seg_mod, "tokenized_docs", traced_call(tr, "docid")), \
                patched(seg_mod, "build_segments", traced_call(tr, "segments")), \
                patched(merge_mod, "merge_segments", traced_call(tr, "merge")), \
                patched(snap_mod, "commit_snapshot", traced_call(tr, "snapshot")), \
                patched(seg_mod, "read_segmented_index", traced_call(tr, "open")), \
                patched(DataFrameWriter, "parquet", stored):
            return self._build(corpus, index_dir)

    # -- phases ------------------------------------------------------------

    def setup(self, n_builds: int = N_BUILDS) -> None:
        from lucene_solr_spark.index.segments import read_segmented_index
        from lucene_solr_spark.session import get_spark
        from lucene_solr_spark.sources.synth import synth_transcripts

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session"):
            self.spark = get_spark(
                "perfbench", cores=len(os.sched_getaffinity(0)),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # keep every file inside the checkout: no JVM perf-data file in /tmp
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                    ),
                    "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                },
            )
        session_s = time.perf_counter() - t0
        if self.trace:
            tr.sc = self.spark.sparkContext

        t0 = time.perf_counter()
        with tr.span("synth"):
            synth_transcripts(self.spark, N_TURNS, seed=self.seed).write.parquet(
                f"{self.work}/corpus"
            )
        synth_s = time.perf_counter() - t0
        self.corpus = self.spark.read.parquet(f"{self.work}/corpus")
        # the oracle is built in a separate process while the cold build
        # runs, and joined before the warm builds, so it shares the CPU
        # with no build that is timed
        self.oracle_proc = subprocess.Popen(
            [sys.executable, "-c", ORACLE_JOB, f"{self.work}/corpus", f"{self.work}/oracle.pkl"],
            cwd=HERE,
        )

        # an untimed cold build of one corpus file takes the JIT, code
        # generation and Python worker start; a build's cost is mostly
        # fixed Spark job overhead, so this warms the full builds about as
        # well as a cold full build does, in less time
        t0 = time.perf_counter()
        first = min(f for f in os.listdir(f"{self.work}/corpus") if f.endswith(".parquet"))
        with tr.span("build.cold"):
            self._build(self.spark.read.parquet(f"{self.work}/corpus/{first}"),
                        f"{self.work}/index-cold")
        shutil.rmtree(f"{self.work}/index-cold", ignore_errors=True)
        cold_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("oracle.wait"):
            rc = self.oracle_proc.wait()
        self.info["oracle_wait_s"] = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"oracle process exited with {rc}")

        # the full builds; the last is the traced build in a traced run
        # and the queried index
        self.builds = []
        for i in range(n_builds):
            index_dir = f"{self.work}/index{i}"
            traced = self.trace and i == n_builds - 1
            t0 = time.perf_counter()
            with tr.span("build" if traced else "build.plain", trace=f"build-{i}") as sp:
                index = (self._traced_build if traced else self._build)(self.corpus, index_dir)
            wall = time.perf_counter() - t0
            self.builds.append({"dir": index_dir, "wall_s": wall, "span": sp,
                                "doc_count": index.doc_count,
                                "sum_ttf": index.sum_total_term_freq})
            if i < n_builds - 1:
                shutil.rmtree(index_dir, ignore_errors=True)

        t0 = time.perf_counter()
        with tr.span("open.index"):
            self.index = read_segmented_index(self.spark, self.builds[-1]["dir"])
        open_s = time.perf_counter() - t0

        build_med = statistics.median(b["wall_s"] for b in self.builds)
        self.setup_s = session_s + synth_s + build_med + open_s
        self.build_turns_per_s = N_TURNS / build_med
        self.info["setup"] = {
            "session_s": session_s, "synth_s": synth_s, "cold_build_s": cold_s,
            "build_s": [b["wall_s"] for b in self.builds], "open_s": open_s,
        }

    def _query(self, q, tracer, trace_id=None):
        """One closed-loop query: search_wand() to the end of collect()."""
        from lucene_solr_spark.search.wand import search_wand

        mode, terms, msm = q
        t0 = time.perf_counter()
        with tracer.span("query", trace=trace_id) as sp:
            with tracer.span("wand.call") as call:
                df = search_wand(self.index, list(terms), mode, k=K, min_should_match=msm)
            with tracer.span("wand.collect") as coll:
                rows = df.collect()
        return (time.perf_counter() - t0) * 1e3, rows, df, (sp, call, coll)

    def queries(self) -> None:
        from lucene_solr_spark.search.wand import search_wand
        from lucene_solr_spark.sources.synth import synth_term
        from workload import N_WARMUP, TailQueries, head_queries

        if self.workload == "query_head":
            distinct = head_queries(self.seed, synth_term)
            # a warm searcher: its dictionary cache holds every head
            # term before the first timed query (search_wand looks terms
            # up when called; the returned plan is not run)
            with self.tracer.span("warmup.dictionary"):
                search_wand(self.index, sorted({t for q in distinct for t in q[1]}))
            warmup = distinct[:N_WARMUP]
            # a pass is the whole mix in a seeded order
            order = distinct[:]
            random.Random(f"mix-{self.seed}").shuffle(order)

            def next_pass():
                return order
        else:
            tail = TailQueries(self.seed, synth_term)
            warmup, next_pass = tail.warmup, tail.next_pass
        with self.tracer.span("warmup.queries"):
            for q in warmup:
                self._query(q, self.off)

        # The loop runs whole passes, so every run times the same
        # multiset of query shapes, only repeated more or fewer times:
        # passes until MIN_QUERIES are timed, then another while the mean
        # pass so far would end within --seconds. A traced run traces
        # every other pass and stops after an even number, so traced and
        # untraced queries cover the same mix.
        # (query, answer or None, latency_ms, traced, DataFrame, spans); a
        # traced query's executed plan is walked after the loop, so the
        # walk does not delay the next query
        self.results = []
        with self.tracer.span("query_loop"):
            t0 = time.perf_counter()
            n = 0
            while len(self.results) < MIN_QUERIES or (self.trace and n % 2) or (
                (time.perf_counter() - t0) * (n + 1) / n <= self.seconds
            ):
                traced = self.trace and n % 2 == 0
                for q in next_pass():
                    i = len(self.results)
                    try:
                        ms, rows, df, sps = self._query(q, self.tracer if traced else self.off, i)
                    except Exception as e:  # counted as a failed operation
                        self.results.append((q, None, None, traced, None, None))
                        self.errors.append(f"query {q}: {type(e).__name__}: {e}"[:300])
                        continue
                    self.results.append(
                        (q, _answer(rows), ms, traced, df if traced else None, sps)
                    )
                n += 1
            self.info["passes"] = n

    def check(self) -> None:
        """Untimed: builds against the oracle's corpus statistics and
        every timed answer against its reference."""
        from lucene_solr_spark.search.wand import search_wand

        with self.tracer.span("check.oracle"):
            with open(f"{self.work}/oracle.pkl", "rb") as f:  # written by ORACLE_JOB
                oracle, self.text_bytes = pickle.load(f)
        for b in self.builds:
            self.attempted += 1
            if (b["doc_count"], b["sum_ttf"]) != (oracle.doc_count, oracle.sum_total_term_freq):
                self._fail(f"build {b['dir']}: doc_count/sum_ttf "
                           f"{(b['doc_count'], b['sum_ttf'])} != oracle "
                           f"{(oracle.doc_count, oracle.sum_total_term_freq)}")

        self.reference = {}
        with self.tracer.span("check.answers"):
            for q, ans, *_ in self.results:
                self.attempted += 1
                if q not in self.reference:
                    mode, terms, msm = q
                    if mode in ("disjunctive", "conjunctive") and msm is None:
                        self.reference[q] = _oracle_answer(oracle, terms, mode)
                    else:
                        self.reference[q] = _answer(search_wand(
                            self.index, list(terms), mode, k=K,
                            min_should_match=msm, complete=True,
                        ).collect())
                if ans != self.reference[q]:
                    self._fail(f"answer mismatch for {q}")

    def resume_check(self) -> tuple:
        """Abort a build through fail_on_seg, then rerun it into the same
        directory: the rerun must answer like the fresh set-up build.
        Returns (ok, reason)."""
        from lucene_solr_spark.index.snapshot import committed_segments
        from lucene_solr_spark.search.wand import search_wand
        from lucene_solr_spark.sources.synth import synth_term
        from workload import TailQueries, head_queries

        rdir = f"{self.work}/resume"
        try:
            self._build(self.corpus, rdir, fail_on_seg=RESUME_FAIL_SEG)
        except Exception:  # the injected failure aborts the build job
            pass
        else:
            return False, "the build with fail_on_seg did not fail"
        self.spark.catalog.clearCache()
        done = committed_segments(rdir)
        if not 0 < len(done) < NUM_SEGMENTS:
            return False, f"{len(done)} of {NUM_SEGMENTS} segments committed after the abort"
        self.info["resume"] = {"committed_before_rerun": len(done)}
        resumed = self._build(self.corpus, rdir)
        got = (resumed.doc_count, resumed.sum_total_term_freq)
        want = (self.index.doc_count, self.index.sum_total_term_freq)
        if got != want:
            return False, (
                f"resumed index has (doc_count, sum_total_term_freq) {got}, "
                f"the fresh build {want}"
            )
        for mode, terms, msm in head_queries(self.seed, synth_term)[:2] + [
            next(TailQueries(self.seed, synth_term))
        ]:
            fresh, got = (
                _answer(search_wand(ix, list(terms), mode, k=K, min_should_match=msm).collect())
                for ix in (self.index, resumed)
            )
            if got != fresh:
                return False, f"resumed index answers {(mode, terms, msm)} differently"
        return True, ""

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict:
        lat = [r[2] for r in self.results if r[2] is not None]
        index_bytes = _dir_bytes(self.builds[-1]["dir"])
        from workload import high_percentile

        hp = high_percentile(lat)
        self.info["queries"] = {
            "n": len(self.results), "timed_ok": len(lat),
            "latencies_ms": [round(x, 1) for x in lat],
            "high_percentile": None if hp is None else {"p": hp[0], "ms": hp[1]},
        }
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "build_turns_per_s": {"value": self.build_turns_per_s, "unit": "turns/s"},
            "index_bytes_per_text_byte": {
                "value": index_bytes / self.text_bytes, "unit": "ratio",
            },
            "query_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
        }

    def per_layer(self) -> dict:
        from spans import SparkCounts, self_times, uncovered, wand_plan_counts

        sc = self.spark.sparkContext
        counts = SparkCounts(sc)
        spans = self.tracer.spans
        selfs = self_times(spans)
        build = self.builds[-1]
        b_span = build["span"]
        kids = {s["name"]: s for s in spans if s["parent"] == b_span["id"]}

        def dur(s):
            return s["end"] - s["start"]

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        m = {}
        seg_dir = f"{build['dir']}/segments"
        manifests = []
        for name in sorted(os.listdir(seg_dir)):
            with open(f"{seg_dir}/{name}/manifest.json") as f:
                manifests.append(json.load(f))
        seg_postings_bytes = sum(
            os.path.getsize(f"{seg_dir}/{n}/postings.parquet") for n in os.listdir(seg_dir)
        )
        merged = [d for d in os.listdir(build["dir"]) if d.startswith("merged-")]
        merged_bytes = sum(_dir_bytes(f"{build['dir']}/{d}") for d in merged)
        merged_postings = sum(_dir_bytes(f"{build['dir']}/{d}/postings") for d in merged)

        docid, segs, stored, merge = kids["docid"], kids["segments"], kids["stored"], kids["merge"]
        c_seg, c_merge = counts.for_span(segs["id"]), counts.for_span(merge["id"])
        m["docid.s"] = (dur(docid), "s")
        m["docid.jobs"] = (counts.for_span(docid["id"])["jobs"], "count")
        m["segments.s"] = (dur(segs), "s")
        m["segments.jobs"] = (c_seg["jobs"], "count")
        m["segments.tasks"] = (c_seg["tasks"], "count")
        m["segments.task_cpu_s"] = (c_seg["cpu_s"], "s")
        m["segments.task_wall_s_sum"] = (sum(x["wall_sec"] for x in manifests), "s")
        m["segments.postings"] = (sum(x["n_postings"] for x in manifests), "count")
        m["segments.bytes"] = (_dir_bytes(seg_dir), "bytes")
        m["stored.s"] = (dur(stored), "s")
        m["stored.bytes"] = (_dir_bytes(f"{build['dir']}/stored"), "bytes")
        m["merge.s"] = (dur(merge), "s")
        m["merge.jobs"] = (c_merge["jobs"], "count")
        m["merge.shuffle_bytes"] = (c_merge["shuffle_write_bytes"], "bytes")
        m["merge.bytes_written"] = (merged_bytes, "bytes")
        m["merge.rewrite_ratio"] = (merged_postings / seg_postings_bytes, "ratio")
        m["snapshot.s"] = (dur(kids["snapshot"]), "s")
        m["open.s"] = (dur(kids["open"]), "s")
        m["build.s"] = (dur(b_span), "s")
        m["build.uncovered_s"] = (selfs[b_span["id"]], "s")
        m["build.gc_s"] = (counts.for_span(b_span["id"])["gc_s"], "s")

        traced = [r for r in self.results if r[3] and r[2] is not None]
        plain = [r[2] for r in self.results if not r[3] and r[2] is not None]
        calls = [counts.for_span(r[5][1]["id"]) for r in traced]
        colls = [counts.for_span(r[5][2]["id"]) for r in traced]
        plans = [wand_plan_counts(r[4]) for r in traced]
        m["wand.call_ms"] = (med([dur(r[5][1]) * 1e3 for r in traced]), "ms")
        m["wand.call_jobs"] = (med([c["jobs"] for c in calls]), "count")
        m["wand.collect_ms"] = (med([dur(r[5][2]) * 1e3 for r in traced]), "ms")
        m["wand.jobs"] = (med([c["jobs"] for c in colls]), "count")
        m["wand.stages"] = (med([c["stages"] for c in colls]), "count")
        m["wand.tasks"] = (med([c["tasks"] for c in colls]), "count")
        m["wand.task_cpu_ms"] = (med([c["cpu_s"] * 1e3 for c in colls]), "ms")
        for key, unit in (("files_read", "count"), ("blocks_read", "count"),
                          ("blocks_kept", "count"), ("exchange_bytes", "bytes"),
                          ("leaf_python_ms", "ms"), ("leaf_bytes_in", "bytes")):
            m[f"wand.{key}"] = (med([p[key] for p in plans]), unit)
        m["wand.block_keep_ratio"] = (
            med([p["blocks_kept"] / p["blocks_read"] for p in plans if p["blocks_read"]]),
            "ratio",
        )
        m["query.self_ms"] = (med([selfs[r[5][0]["id"]] * 1e3 for r in traced]), "ms")
        m["trace.query_overhead_ms"] = (med([r[2] for r in traced]) - med(plain), "ms")
        m["run.uncovered_s"] = (uncovered(spans, self.t_start, self.t_end), "s")
        m["peak_rss_mb"] = (self.peak_rss_mb, "MB")
        self.info["wand_call_jobs_range"] = [
            min((c["jobs"] for c in calls), default=None),
            max((c["jobs"] for c in calls), default=None),
        ]
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _peak_rss_mb(self) -> float:
        """Diagnostic: driver JVM high-water RSS plus this process's."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def execute(self) -> dict:
        self.t_start = time.perf_counter()
        self.setup()
        self.queries()
        self.t_end = time.perf_counter()
        self.peak_rss_mb = self._peak_rss_mb()
        self.check()
        metrics = self.per_layer() if self.trace else self.end_to_end()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def stop(self) -> None:
        if self.oracle_proc is not None and self.oracle_proc.poll() is None:
            self.oracle_proc.kill()
            self.oracle_proc.wait()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--resume-check", action="store_true",
        help="instead of a workload, abort a build and resume it; exit 1 "
        "when the resumed index answers differently from a fresh build",
    )
    args = ap.parse_args(argv)
    if not args.resume_check and (args.workload is None or args.seconds is None):
        ap.error("--workload and --seconds are required")

    sys.path.insert(0, ROOT)
    import lucene_solr_spark  # noqa: F401  (fail before any set-up if absent)

    name = "resume" if args.resume_check else args.workload
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{name}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(f"{base}/runs", exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # the JVM that spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    host = {
        "loadavg_before": _loadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "seed": args.seed,
        "commit": _commit(),
        "workload": name,
        "trace": args.trace,
        "seconds": args.seconds,
    }
    run = Run(name, args.seed, args.seconds, bool(args.trace), work)
    try:
        if args.resume_check:
            run.setup(n_builds=1)
            ok, why = run.resume_check()
            result = {"resume_ok": ok, "reason": why}
        else:
            result = run.execute()
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = _loadavg()
    stem = f"{base}/runs/{name}-seed{args.seed}-trace{args.trace}"
    record = {"host": host, "info": run.info, "errors": run.errors, **result}
    with open(f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.flush(f"{stem}-spans.json", {"host": host})
    print(json.dumps({"host": host, "info": run.info, "errors": run.errors}), file=sys.stderr)
    print(json.dumps(result))
    return 1 if result.get("resume_ok") is False else 0


if __name__ == "__main__":
    sys.exit(main())
