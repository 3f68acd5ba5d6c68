"""Search-engine benchmark: one command per workload, one JSON line out.

    python3 perfbench/run.py --workload search-serve --seed 1 --seconds 8 --trace 0

Every run drives the engine's whole search lifecycle through its public
functions, on inputs generated from ``--seed`` (``gen.py``):

1. set-up: start the session, build the stores needed once (as the
   first Spark work they take most of the JIT warm-up), then the
   workload's serving store; two more builds of it, into fresh tables
   nothing reads, run in the serving window's gaps (step 3), so the
   three samples span the run.  ``setup_s`` is the session start plus
   the median of the three builds;
2. untimed warm-up: one call of every kind the run times (a probe,
   an append, a compaction and searches), so no plan's first-call code
   generation is billed to a timed call;
3. a closed-loop serving window with CLIENTS client threads replaying
   the query log (``search_*`` metrics), cut into slices of a fixed
   number of searches that last about ``--seconds`` in all; each gap
   between two slices runs GAP_PROBES ``probe_dedup`` calls and the
   gap's share of the write lane (GAPS: serving-store builds,
   ``append_tf_index`` of a delta batch, ``compact_tf_index``), so
   every timed kind samples the whole window and a host slowdown of a
   few seconds moves few samples of any kind;
4. the query asked on the segmented store right before its last
   compaction, again: the answers must not change;
5. in the traced run only, the registry lane: one registered query key
   of each implementing module, once each through the noop sink in a
   seeded order, on small generated TPC-H-style tables.

``search-serve`` serves the weighted store (``build_index``,
``search_index`` OR/AND and ``search_index_vsm``), which the write lane
leaves alone; ``index-ingest`` serves the segmented store the write
lane appends to and compacts (``search_tf_index``), whose per-query
segment fold grows with every append.  Both report every metric.

Every answer is checked against an exact pure-Python reference
(``check.py``), or for registry keys against their DuckDB oracle, after
the timed parts; a wrong answer counts as a failed operation.
``--trace 1`` reports per-layer metrics instead: spans around every
public call, Spark's counters from a SparkListener, and the tracing
overhead measured inside the run (the middle serving slices are
traced, the outer ones and the warm-up not).  All files (corpus, stores, warehouse,
Spark scratch) live under ``perfbench/.work`` and are removed at exit;
the traced run keeps its spans in ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside perfbench/.work

import check  # noqa: E402
import gen  # noqa: E402
from tracing import SparkCounters, Tracer, delta  # noqa: E402

CLIENTS = 1
SPARK_CPUS = "2"
DRIVER_MEMORY = "2g"
TOP_K = 10
#: the write-lane work of each gap between two serving slices, besides
#: GAP_PROBES probes: three appends, two compactions (the first after
#: two appends, the second after one) and the two extra serving-store
#: builds, each kind spread over the window.  A traced run leaves the
#: first and the last slice untraced
GAPS = (("build",), ("append",), ("append", "compact"), ("build",),
        ("append",), ("compact",))
GAP_PROBES = 2
SLICES = len(GAPS) + 1
BUILDS = 1 + sum(g.count("build") for g in GAPS)
#: the tail percentile reported: an 8-second serving window holds 21
#: searches, so p75 leaves 5 samples beyond it; a higher percentile
#: would rest on one or two
TAIL = 75

#: metric name -> unit, as listed in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    f"search_p{TAIL}_ms": "ms",
    "search_qps": "1/s",
    "append_p50_ms": "ms",
    "dedup_probe_p50_ms": "ms",
    "compact_s": "s",
}

#: the registry lane's keys: one per module that implements registered
#: queries, each among the cheapest of its module when it is the first
#: of its module in a session (2 Spark cores, the generated tables), so
#: every module is timed and the lane stays near ten seconds.  Every
#: key has a DuckDB oracle.  The lane runs in the traced run only: in
#: every untraced run it would add a sixth to the run's length.
REGISTRY_KEYS = (
    ("functions.ann", "j14_fingerprint_winnow"),
    ("functions.dataset_ops", "j44_weighted_sample"),
    ("functions.index_store", "i26_index_refresh"),
    ("functions.link_graph", "i28_anchor_text_index"),
    ("functions.llm_pipeline", "j5_label_centroids"),
    ("functions.llm_scale", "j15_hash_sample"),
    ("functions.multimodal", "m5_modality_manifest"),
    ("functions.scalar", "h8_edit_distance"),
    ("functions.text_search", "i2_term_freq"),
    ("functions.udf_surface", "l2_pandas_udf"),
    ("operators.aggregates", "d7_having"),
    ("operators.joins", "c6_join_anti"),
    ("operators.project_filter", "b3_filter_null_semantics"),
    ("operators.scans", "a1_scan_full"),
    ("operators.setops", "g1_union_all"),
    ("operators.sorts", "f2_global_topk"),
    ("operators.windows", "e7_topk_per_group"),
    ("streaming.events", "k7_error_burst"),
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.materialize_s": "s",
    "text_search.tfidf_w_s": "s",
    "index_store.build_index_s": "s",
    "index_store.build_tf_index_s": "s",
    "dedup_store.build_dedup_index_s": "s",
    "index_store.search_call_ms": "ms",
    "index_store.search_collect_ms": "ms",
    "index_store.append_tf_index_ms": "ms",
    "index_store.files_per_bucket": "count",
    "index_store.compact_tf_index_s": "s",
    "dedup_store.probe_call_ms": "ms",
    "dedup_store.probe_collect_ms": "ms",
    "dedup_store.rows_read_per_probe": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "B",
    "spark.input_rows_per_result": "count",
    "bench.client_self_ms_per_op": "ms",
    "trace.overhead_pct": "%",
}
PER_LAYER.update((f"registry.{m}_s", "s") for m in sorted(
    {m for m, _ in REGISTRY_KEYS}))


@dataclass(frozen=True)
class Workload:
    base_docs: int
    serve_store: str          # "weighted" or "segmented"
    mix: dict                 # query kind -> share of the query log
    batch_docs: int           # documents per append
    qps: float                # searches per second on a 4-vCPU VM


WORKLOADS = {
    # read-mostly: head-term postings and per-job overhead dominate
    "search-serve": Workload(1200, "weighted",
                             {"or": 0.4, "and": 0.3, "vsm": 0.3},
                             batch_docs=50, qps=3.0),
    # write lane: append, memo invalidation, segment fold, compaction;
    # a smaller corpus because compaction cost grows superlinearly
    "index-ingest": Workload(800, "segmented", {"or": 0.5, "and": 0.5},
                             batch_docs=50, qps=2.2),
}


class Failures:
    """Counts attempted and failed operations; an exception or a wrong
    answer is a failure.  The first few are reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if self.failed <= 5:
                print(f"perfbench: FAILED {what}", file=sys.stderr)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--conf spark.local.dir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        # no hsperfdata file in the system's /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )
    os.environ["TMPDIR"] = tmp
    # the same for the launcher JVM spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    # Python UDF workers import the engine from this checkout and, like
    # this process, write no bytecode next to it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def _pct(xs: list[float], p: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Lifecycle:
    def __init__(self, name: str, seed: int, seconds: float, traced: bool,
                 work: str):
        self.wl = WORKLOADS[name]
        self.name, self.seed = name, seed
        # a fixed number of searches per slice, so the share of them
        # that follow a write (and re-run the store's memoized guards)
        # is the same whatever the host's speed; at the workload's rate
        # the window lasts about ``seconds``
        self.per_slice = max(2, round(seconds * self.wl.qps / SLICES
                                      / CLIENTS))
        self.work = work
        self.tracer = Tracer(traced)
        self.fails = Failures()
        self.counters = None
        wl = self.wl
        # delta batches: the warm-up's, then the gaps' ones
        total = wl.base_docs + (1 + sum(g.count("append") for g in GAPS)
                                ) * wl.batch_docs
        self.texts = gen.make_corpus(seed, total)
        self.queries = gen.make_queries(seed, 2_000, wl.mix)
        self.qpos = 3  # the first three are warm-up queries
        self.check_query = [dict(self.queries[0], kind="or")]
        self.before_last = None
        self.qlock = threading.Lock()
        self.batches = [list(range(lo, lo + wl.batch_docs))
                        for lo in range(wl.base_docs, total, wl.batch_docs)]
        # an exact copy of a stored document (the warm-up's probe), and
        # documents the near-duplicate store does not hold, the common
        # case of an ingest check (the gaps' probes)
        self.held_probe = gen.make_probes(seed, 0, range(wl.base_docs), 1,
                                          True, self.texts)[0]
        self.probes = gen.make_probes(
            seed, 1, range(wl.base_docs, total),
            len(GAPS) * GAP_PROBES, False, self.texts)
        self.compactions = 0
        self.appended = 1     # batches appended so far
        self.builds: list[float] = []
        for r in ["w", *range(BUILDS)]:
            # a fresh corpus path per build: the engine memoizes derived
            # tables per (session, corpus path)
            gen.write_corpus(self.texts, range(wl.base_docs), self._sf(r))
        self.registry_sf = os.path.join(work, "registry")
        if traced:
            gen.write_registry_tables(seed, self.registry_sf)
        os.makedirs(os.path.join(work, "stores"))
        self.checks: list = []   # deferred answer checks, run untimed
        self.m: dict[str, float] = {}

    def _sf(self, r) -> str:
        return os.path.join(self.work, f"corpus{r}")

    def _path(self, table: str) -> str:
        return os.path.join(self.work, "stores", table)

    # -- engine calls ------------------------------------------------------

    def start(self):
        from bdt_enwikisearch_hadoop_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{self.name}")
        self.m["get_spark_s"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        if self.tracer.enabled:
            from bdt_enwikisearch_hadoop_spark.functions import index_store

            self.counters = SparkCounters(spark)
            self.tracer.wrap(index_store, "tfidf_w", "text_search.tfidf_w")

    def _docs(self, r):
        from bdt_enwikisearch_hadoop_spark.sources import load

        return load(self.spark, self._sf(r), "documents")

    def _build_segmented(self, r) -> str:
        from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

        with self.tracer.span("index_store.build_tf_index"):
            ix.build_tf_index(self.spark, self._docs(r), f"tf{r}",
                              self._path(f"tf{r}"))
        return f"tf{r}"

    def _build_dedup(self, r) -> str:
        from bdt_enwikisearch_hadoop_spark.functions import dedup_store as dd

        with self.tracer.span("dedup_store.build_dedup_index"):
            dd.build_dedup_index(self.spark, None, f"dd{r}",
                                 self._path(f"dd{r}"), docs=self._docs(r))
        return f"dd{r}"

    def _build_weighted(self, r) -> str:
        from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

        with self.tracer.span("index_store.build_index"):
            ix.build_index(self.spark, self._sf(r), f"ws{r}",
                           self._path(f"ws{r}"))
        return f"ws{r}"

    def build(self) -> str | None:
        """One timed build of the serving store into a fresh table."""
        r = len(self.builds)
        self.fails.attempt()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("setup.build"):
                if self.wl.serve_store == "weighted":
                    table = self._build_weighted(r)
                else:
                    table = self._build_segmented(r)
        except Exception:
            self.fails.fail("build\n" + traceback.format_exc())
            return None
        self.builds.append(time.perf_counter() - t0)
        _log(f"build {r}: {self.builds[-1]:.2f}s")
        return table

    def setup(self) -> None:
        # the stores built once come first: the write lane's, and in a
        # traced run the weighted one too, so that every build layer is
        # measured on every workload.  As the process's first Spark work
        # they also take most of its JIT warm-up
        self.fails.attempt()
        with self.tracer.span("setup.build"):
            if self.wl.serve_store == "weighted":
                self.tf_table = self._build_segmented("w")
            elif self.tracer.enabled:
                self._build_weighted("w")
            self.dd_table = self._build_dedup("w")
        _log("once-built stores done")
        table = self.build()
        if self.wl.serve_store == "weighted":
            self.ws_table = table
        else:
            self.tf_table = table

    def _search(self, kind: str, terms: tuple, store: str):
        """One search op: returns (rows, call_s, collect_s)."""
        from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

        t0 = time.perf_counter()
        if store == "weighted":
            if kind == "vsm":
                with self.tracer.span("index_store.search_index_vsm"):
                    df = ix.search_index_vsm(self.spark, self.ws_table, terms,
                                             k=TOP_K)
            else:
                with self.tracer.span("index_store.search_index"):
                    df = ix.search_index(self.spark, self.ws_table, terms,
                                         k=TOP_K, conjunctive=kind == "and")
        else:
            with self.tracer.span("index_store.search_tf_index"):
                df = ix.search_tf_index(self.spark, self.tf_table, terms,
                                        k=TOP_K, conjunctive=kind == "and")
        t1 = time.perf_counter()
        with self.tracer.span("index_store.search_collect"):
            rows = [(r["doc_id"], r["score"]) for r in df.collect()]
        return rows, t1 - t0, time.perf_counter() - t1

    def _held(self, store: str) -> int:
        """How many documents (the first doc_ids) ``store`` holds: the
        write lane appends to the segmented store only."""
        return self.ingested if store == "segmented" else self.wl.base_docs

    def _next_query(self):
        with self.qlock:
            q = self.queries[self.qpos % len(self.queries)]
            self.qpos += 1
        return q

    def serve(self, n: int, store: str) -> dict:
        """Closed loop: CLIENTS threads, each sending its next query when
        the previous answer arrives, ``n`` queries each."""
        lat, calls, collects, nrows = [], [], [], [0]
        lock = threading.Lock()
        oracle_n = self._held(store)
        t_start = time.perf_counter()
        last = [t_start]

        def client():
            for _ in range(n):
                q = self._next_query()
                kind, terms = q["kind"], tuple(q["terms"])
                self.fails.attempt()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("op.search"):
                        rows, c, k = self._search(kind, terms, store)
                except Exception:
                    self.fails.fail(f"search {kind} {terms}\n"
                                    + traceback.format_exc())
                    continue
                t1 = time.perf_counter()
                with lock:
                    lat.append(t1 - t0)
                    calls.append(c)
                    collects.append(k)
                    nrows[0] += len(rows)
                    last[0] = max(last[0], t1)
                self.checks.append(("search", store, kind, terms, rows,
                                    oracle_n))

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return {"lat": lat, "calls": calls, "collects": collects,
                "rows": nrows[0], "elapsed": last[0] - t_start}

    def probe(self, p: dict) -> float:
        from bdt_enwikisearch_hadoop_spark.functions import dedup_store as dd

        text = self.texts[p["copy_of"] if p["copy_of"] is not None
                          else p["doc_id"]]
        self.fails.attempt()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op.probe"):
                with self.tracer.span("dedup_store.probe_dedup"):
                    df = dd.probe_dedup(self.spark, self.dd_table, text)
                with self.tracer.span("dedup_store.probe_collect"):
                    rows = [(r["doc_id"], r["jaccard"]) for r in df.collect()]
        except Exception:
            self.fails.fail("probe\n" + traceback.format_exc())
            return None
        dt = time.perf_counter() - t0
        self.checks.append(("probe", text, p["copy_of"], rows))
        return dt

    def append(self, ids: list[int]) -> float:
        from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

        df = self.spark.createDataFrame(
            [(i, self.texts[i]) for i in ids],
            "doc_id bigint, text string",
        )
        self.fails.attempt()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op.append"):
                with self.tracer.span("index_store.append_tf_index"):
                    ix.append_tf_index(self.spark, self.tf_table, df)
        except Exception:
            self.fails.fail("append\n" + traceback.format_exc())
            return None
        self.ingested += len(ids)
        return time.perf_counter() - t0

    def burst(self, queries: list[dict], tag: str, store: str) -> list:
        answers = []
        for q in queries:
            terms = tuple(q["terms"])
            self.fails.attempt()
            try:
                with self.tracer.span("op.search"):
                    rows, _, _ = self._search(q["kind"], terms, store)
            except Exception:
                self.fails.fail(f"{tag} search {terms}\n"
                                + traceback.format_exc())
                answers.append(None)
                continue
            answers.append(rows)
            self.checks.append(("search", store, q["kind"], terms,
                                rows, self._held(store)))
        return answers

    def compact(self) -> float:
        from bdt_enwikisearch_hadoop_spark.functions import index_store as ix

        # every compaction writes a fresh path
        self.compactions += 1
        path = self._path(f"{self.tf_table}_c{self.compactions}")
        self.fails.attempt()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op.compact"):
                with self.tracer.span("index_store.compact_tf_index"):
                    ix.compact_tf_index(self.spark, self.tf_table, path)
        except Exception:
            self.fails.fail("compact\n" + traceback.format_exc())
            return None
        return time.perf_counter() - t0

    def registry(self) -> None:
        """Each REGISTRY_KEYS query once through the noop sink, in a
        seeded order, on the generated registry tables; wall time is
        summed per implementing module.  Each key runs once, so an
        intermediate the engine materializes for several keys is billed
        once, to whichever of them runs first."""
        from bdt_enwikisearch_hadoop_spark.registry import QUERIES

        keys = list(REGISTRY_KEYS)
        random.Random(self.seed).shuffle(keys)
        per_module: dict[str, float] = {}
        ran = []
        for module, key in keys:
            self.fails.attempt()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op.registry"):
                    with self.tracer.span(f"registry.{module}"):
                        (QUERIES[key](self.spark, self.registry_sf)
                         .write.format("noop").mode("overwrite").save())
                ran.append(key)
            except Exception:
                self.fails.fail(f"registry {key}\n" + traceback.format_exc())
            per_module[module] = (per_module.get(module, 0.0)
                                  + time.perf_counter() - t0)
        self.registry_s = per_module
        # checked after the timed lane: checking re-runs the query
        self._check_registry(ran)

    def _check_registry(self, keys: list[str]) -> None:
        from bdt_enwikisearch_hadoop_spark.registry import ORACLES, QUERIES
        from bdt_enwikisearch_hadoop_spark.testing import (
            compare,
            duckdb_connect,
        )

        con = duckdb_connect(self.registry_sf)
        try:
            for key in keys:
                try:
                    problems = compare(QUERIES[key](self.spark,
                                                    self.registry_sf),
                                       con.execute(ORACLES[key]).df())
                except Exception:
                    problems = [traceback.format_exc()]
                if problems:
                    self.fails.fail(f"wrong answer: registry {key}: "
                                    f"{problems[0]}")
        finally:
            con.close()

    # -- the run -----------------------------------------------------------

    def run(self) -> None:
        self.start()
        _log("session started")
        self.setup()
        _log("set-up done")
        self.ingested = self.wl.base_docs
        self.warm_up()
        _log("warmed up")
        lane = {"probe": [], "append": [], "compact": [],
                "probe_rows": 0, "counted": 0}
        serve_out = self._serve_phase(lane)
        _log(f"served {len(serve_out['lat'])} searches")
        # the query asked right before the last compaction, again
        after = self.burst(self.check_query, "post-compaction", "segmented")
        self.fails.attempt()
        if after != self.before_last:
            self.fails.fail("answers changed across compact_tf_index")
        if self.tracer.enabled:
            self.registry()
            _log("registry lane done")
        self._lane_metrics(lane, serve_out)

    def _trace(self, on: bool) -> None:
        """Record spans and Spark's counters from now on, or stop."""
        self.tracer.enabled = on
        if on and self.counters is None:
            self.counters = SparkCounters(self.spark)
        elif not on and self.counters is not None:
            self.counters.close()
            self.counters = None

    def warm_up(self) -> None:
        """One untimed call of every kind the run times, so the code
        generation of each plan is not billed to its first timed call;
        their answers are checked like any other, and none is traced.

        The write lane's: a probe, an append and a compaction.  The
        serving store's: the query log's
        first three queries (one of each length) as the first kind, the
        longest of them as every other kind: a plan's first call costs
        about three warm calls, a new length on a warm kind about half
        of one more, a warm length on a new kind nothing more.  The
        window's queries start after them."""
        traced = self.tracer.enabled
        if traced:
            self._trace(False)
        self.probe(self.held_probe)
        _log("warm-up probe")
        self.append(self.batches[0])
        _log("warm-up append")
        self.compact()
        _log("warm-up compaction")
        warm = sorted(self.queries[:3], key=lambda q: len(q["terms"]))
        first, *others = sorted(self.wl.mix)
        self.burst([dict(q, kind=first) for q in warm]
                   + [dict(warm[-1], kind=k) for k in others],
                   "warm-up", self.wl.serve_store)
        if traced:
            self._trace(True)

    def _snap(self):
        return self.counters.snapshot() if self.counters else None

    def _serve_phase(self, lane: dict) -> dict:
        """The serving window, cut into SLICES slices of ``per_slice``
        searches each, with a gap of write-lane work between consecutive ones
        (module docstring), so that the search, probe, append and
        compaction samples each span the phase.  A traced run traces
        the gaps and the middle slices (the outer slices have no spans
        and no listener), so the tracing overhead is measured on the
        same store in one process, and a drift across the window (the
        JIT still warming up) weighs on both sides alike; only the
        traced slices make the per-layer search metrics."""
        store = self.wl.serve_store
        traced = self.tracer.enabled
        measured, plain = [], []
        counts = dict.fromkeys(SparkCounters.FIELDS, 0)
        probes = iter(self.probes)
        for i in range(SLICES):
            if i:
                if traced:
                    self._trace(True)
                self._gap(i, probes, lane)
            on = traced and 0 < i < SLICES - 1
            if traced:
                self._trace(on)
            c0 = self._snap()
            out = self.serve(self.per_slice, store)
            if on:
                for k, v in delta(self._snap(), c0).items():
                    counts[k] += v
            (plain if traced and not on else measured).append(out)
        if traced:
            self._trace(True)
        merged = {k: [x for o in measured for x in o[k]]
                  for k in ("lat", "calls", "collects")}
        merged["rows"] = sum(o["rows"] for o in measured)
        merged["elapsed"] = sum(o["elapsed"] for o in measured)
        merged["counts"] = counts
        merged["plain_lat"] = [x for o in plain for x in o["lat"]]
        return merged

    def _gap(self, i: int, probes, lane: dict) -> None:
        """The write-lane work before slice ``i``."""
        c0 = self._snap()
        took = [self.probe(next(probes)) for _ in range(GAP_PROBES)]
        if self.counters:
            lane["probe_rows"] += delta(self._snap(), c0)["input_rows"]
            lane["counted"] += sum(x is not None for x in took)
        lane["probe"].extend(took)
        for op in GAPS[i - 1]:
            if op == "build":
                self.build()
            elif op == "append":
                lane["append"].append(
                    self.append(self.batches[self.appended]))
                self.appended += 1
            else:
                if "compact" not in sum(GAPS[i:], ()):
                    # before the last compaction: a query whose answer
                    # must not change across it, and the store's layout
                    self.before_last = self.burst(
                        self.check_query, "pre-compaction", "segmented")
                    if self.tracer.enabled:
                        self._report_layout()
                lane["compact"].append(self.compact())

    def _report_layout(self) -> None:
        from bdt_enwikisearch_hadoop_spark.functions import index_store

        rep = index_store.store_report(self.spark, self.tf_table, "term")
        self.m["files_per_bucket"] = rep["n_files"] / rep["n_buckets"]

    def _lane_metrics(self, lane: dict, s: dict) -> None:
        """Metrics from the samples taken; a metric with no successful
        sample is left out (its operations are counted as failed)."""
        m = self.m
        lat = s["lat"]
        if self.builds:
            b = statistics.median(self.builds)
            m["setup_s"] = m["get_spark_s"] + b
        appends = [x for x in lane["append"] if x is not None]
        probes = [x for x in lane["probe"] if x is not None]
        compacts = [x for x in lane["compact"] if x is not None]
        if lat:
            m["search_p50_ms"] = statistics.median(lat) * 1e3
            m["search_qps"] = len(lat) / s["elapsed"]
        if len(lat) >= 2:
            m[f"search_p{TAIL}_ms"] = _pct(lat, TAIL) * 1e3
        if appends:
            m["append_p50_ms"] = statistics.median(appends) * 1e3
        if probes:
            m["dedup_probe_p50_ms"] = statistics.median(probes) * 1e3
        if compacts:
            m["compact_s"] = statistics.median(compacts)
        if not self.tracer.enabled or not lat:
            return
        t = self.tracer
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        n = len(lat)
        c = s["counts"]
        from bdt_enwikisearch_hadoop_spark.sources.io import (
            MATERIALIZE_SECONDS,
        )

        self.layers = {
            "session.get_spark_s": m["get_spark_s"],
            "sources.materialize_s": sum(MATERIALIZE_SECONDS.values()),
            "text_search.tfidf_w_s": med(t.durations("text_search.tfidf_w")),
            "index_store.build_index_s": med(
                t.durations("index_store.build_index")),
            "index_store.build_tf_index_s": med(
                t.durations("index_store.build_tf_index")),
            "dedup_store.build_dedup_index_s": med(
                t.durations("dedup_store.build_dedup_index")),
            "index_store.search_call_ms": med(s["calls"]) * 1e3,
            "index_store.search_collect_ms": med(s["collects"]) * 1e3,
            "index_store.append_tf_index_ms": med(
                t.durations("index_store.append_tf_index")) * 1e3,
            "index_store.files_per_bucket": m.get("files_per_bucket", 0.0),
            "index_store.compact_tf_index_s": med(
                t.durations("index_store.compact_tf_index")),
            "dedup_store.probe_call_ms": med(
                t.durations("dedup_store.probe_dedup")) * 1e3,
            "dedup_store.probe_collect_ms": med(
                t.durations("dedup_store.probe_collect")) * 1e3,
            "dedup_store.rows_read_per_probe":
                lane["probe_rows"] / max(lane["counted"], 1),
            "spark.jobs_per_op": c["jobs"] / n,
            "spark.tasks_per_op": c["tasks"] / n,
            "spark.executor_cpu_ms_per_op": c["cpu_ns"] / 1e6 / n,
            "spark.shuffle_bytes_per_op": c["shuffle_bytes"] / n,
            "spark.input_rows_per_result": c["input_rows"] / max(s["rows"], 1),
            "bench.client_self_ms_per_op": 1e3 * t.self_times().get(
                "op.search", 0.0) / max(len(t.durations("op.search")), 1),
        }
        if s["plain_lat"]:
            # noise-level on a quiet host, so it can come out negative
            plain = statistics.median(s["plain_lat"])
            self.layers["trace.overhead_pct"] = (
                100 * (statistics.median(lat) - plain) / plain)
        for module, sec in self.registry_s.items():
            self.layers[f"registry.{module}_s"] = sec

    # -- answer checks (untimed) ------------------------------------------

    def verify(self) -> None:
        texts = self.texts
        base = self.wl.base_docs
        refs: dict[int, check.Reference] = {}

        def ref(n: int) -> check.Reference:
            # the reference for a store holding the first n doc_ids
            if n not in refs:
                r = check.Reference(texts)
                r.add(range(n))
                refs[n] = r
            return refs[n]

        for item in self.checks:
            if item[0] == "probe":
                _, text, copy_of, rows = item
                ok = check.probe_ok(rows, text, texts[:base], copy_of)
                what = f"probe copy_of={copy_of}"
            else:
                _, store, kind, terms, rows, n = item
                r = ref(n)
                if kind == "vsm":
                    ok = check.same_ranking(rows, r.cosine(terms), TOP_K,
                                            floor=True)
                else:
                    ok = check.same_ranking(
                        rows, r.scores(terms, kind == "and"), TOP_K)
                what = f"{store} {kind} {terms} over {n} docs: {rows[:3]}"
            if not ok:
                self.fails.fail("wrong answer: " + what)

    def stop(self) -> None:
        """Detach the listener, drain, stop Spark, then end the JVM and
        wait for it — before anything is printed."""
        import subprocess

        from pyspark import SparkContext

        if getattr(self, "spark", None) is None:
            return
        if self.counters is not None:
            self.counters.close()
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(
        description="search-engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    # the engine package must come from this checkout; without it there
    # is nothing to measure and the run fails before any result
    import bdt_enwikisearch_hadoop_spark  # noqa: F401

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        lc = Lifecycle(a.workload, a.seed, a.seconds, bool(a.trace), work)
        try:
            lc.run()
        except Exception:
            # an aborted run still reports what it attempted
            lc.fails.attempt()
            lc.fails.fail("run aborted\n" + traceback.format_exc())
        finally:
            lc.stop()
        _log("stopped")
        lc.verify()
        _log("verified")
        if a.trace:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            lc.tracer.write(os.path.join(
                out, f"trace-{a.workload}-{a.seed}.json"))
            got, units = getattr(lc, "layers", {}), PER_LAYER
        else:
            got, units = lc.m, END_TO_END
        metrics = {k: {"value": got[k], "unit": u}
                   for k, u in units.items() if k in got}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": lc.fails.failed == 0,
        "attempted": lc.fails.attempted,
        "failed": lc.fails.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
