"""The four benchmark workloads, their correctness gate and their metrics.

Every call into the engine goes through its public functions:
``jobs.build_index``, ``jobs.Index``, ``jobs.delete_docs``,
``index_query.index_search``, ``streaming.append_batch``,
``streaming.finalize_stream`` and ``streaming.compact_index``. The traced
run spans the build steps and Spark actions inside one ``build_index`` call
(see ``Bench.probe``).
Inputs come only from ``fixtures.make_transcripts_df(seed)`` and
``fixtures.make_queries(n, seed)``. Nothing is cached between runs: every
run generates its corpus and builds its indexes from the source tree it
runs in.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

from tracing import ProcCpu, RssSampler, Tracer, find_jvm

N_BASE_CONVS = 2000      # base corpus: ~22k turns, ~0.9M postings
BATCH_CONVS = 100        # one maintain micro-batch: ~1.1k turns
N_BATCHES = 6            # micro-batches beyond the base corpus: 1 warm-up
                         # cycle + up to 5 timed ones
QUERY_POOL = 2000        # make_queries(QUERY_POOL, seed)
BATCH_QUERIES = 100
POINT_WARM = 150         # untimed requests: the point path warms for ~150
POINT_MIN_REQS = 200     # p95 needs >= 10 samples beyond it
BATCH_WARM = 10          # untimed batches: the batch path warms for ~10-20
BATCH_MIN = 4            # two batches per strategy
CYCLE_MIN = 3            # timed maintain cycles, after the untimed warm-up
BURST = 5                # point requests per maintain cycle
DELETE_FRACTION = 0.01
GATE_SAMPLE = 20
K = 10
TURN_BITS = 20           # corpus.add_doc_id's conv_seq layout

WORKLOADS = ("build", "search_point", "search_batch", "maintain")
STRATEGY = {"or": "sharded", "blockmax": "blockmax"}


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q):
    """Nearest-rank quantile."""
    if not xs:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Mismatch(Exception):
    pass


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.cores = trace, work, cores
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.mismatches: list[str] = []
        self.ops: list[float] = []       # one latency per unit operation
        self.op_cpus: list[float] = []   # CPU seconds of each timed op
        self.peak_rss_mb: float | None = None
        self.named: dict[str, tuple] = {}   # ROADMAP-named metric -> (v, unit)
        self.results: dict[int, tuple] = {}  # qid -> (query, rows) for gate
        self.deleted: set[int] = set()
        self.maint = {"append": [], "delete": [], "compact": [], "search": []}
        self.cycles: list[dict] = []     # step latencies of each cycle run
                                         # after set-up
        self.groups = self.n_deleted = None  # at the last search burst

    # ------------------------------------------------------------ setup
    def start(self) -> None:
        t0 = time.perf_counter()
        from sparkbm25.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                "-XX:-UsePerfData",
        }
        if self.trace:
            # keep every job and stage for the per-span stage metrics, but
            # few SQL executions: thousands of retained point-request
            # executions slow the listener down as the run goes on
            conf.update({"spark.ui.enabled": "true",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "50"})
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               shuffle_partitions=self.cores,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.jvm_pid = find_jvm()
        self.cpu = ProcCpu(self.jvm_pid)
        self.tracer = Tracer(self.trace, self.spark.sparkContext, self.cpu)
        if self.trace:
            self.tracer.spans.append({"id": 0, "name": "session.start",
                                      "parent": None, "req": None,
                                      "start": t0, "end": t1})
        self.t_start = t0

    def setup(self) -> None:
        from sparkbm25.build import BuildParams
        from sparkbm25.corpus import add_doc_id
        from sparkbm25.fixtures import make_queries, make_transcripts_df

        sp = self.spark
        span = self.tracer.span
        self.params = BuildParams(
            num_shards=self.cores, salt_factor=4, num_term_buckets=8,
            lineage_groups=1, doc_id_scheme="conv_seq",
        )
        self.queries = make_queries(QUERY_POOL, self.seed)
        n_convs = N_BASE_CONVS + N_BATCHES * BATCH_CONVS
        path = os.path.join(self.work, "corpus.parquet")
        with span("fixtures.corpus", cpu="full"):
            make_transcripts_df(sp, n_convs, self.seed).write.parquet(path)
            self.full = add_doc_id(sp.read.parquet(path), "conv_seq").select(
                "doc_id", "text")
            ids = sorted(r.doc_id for r in self.full.select("doc_id").collect())
        base_max = N_BASE_CONVS << TURN_BITS
        self.base = self.full.filter(f"doc_id < {base_max}")
        self.live = {d for d in ids if d < base_max}
        self.n_turns = len(self.live)
        self.batch_ids = [
            [d for d in ids
             if (N_BASE_CONVS + i * BATCH_CONVS) << TURN_BITS <= d
             < (N_BASE_CONVS + (i + 1) * BATCH_CONVS) << TURN_BITS]
            for i in range(N_BATCHES)
        ]
        if self.workload == "build":
            # warm session: the first build (JIT, worker pool) is untimed
            self.ix_dir = self.build_whole("warm")
        else:
            self.ix_dir = self.build_whole("base")
            self.ix = self.open_index()
            self.point(self.queries[0], first=True)
            if self.workload == "search_point":
                for q in self.queries[-POINT_WARM:]:
                    self.point(q)
            if self.workload == "search_batch":
                for i in range(BATCH_WARM):
                    lo = len(self.queries) - (i + 1) * BATCH_QUERIES
                    self.batch(self.queries[lo:lo + BATCH_QUERIES],
                               list(STRATEGY)[i % 2])
            if self.workload == "maintain":
                # untimed warm-up cycle: the first append, delete and
                # compaction of a session run JIT-cold, 10-20% slower
                self.attempt(self.cycle, 0)
                self.maint = {k: [] for k in self.maint}
                self.cycles, self.op_cpus = [], []
        self.setup_s = time.perf_counter() - self.t_start

    def build_whole(self, tag: str) -> str:
        from sparkbm25.jobs import build_index

        d = os.path.join(self.work, f"ix_{tag}")
        shutil.rmtree(d, ignore_errors=True)
        with self.tracer.span("jobs.build_index", cpu="full") as rec:
            self.manifest = build_index(self.base, d, self.params,
                                        source_fingerprint=f"seed{self.seed}")
        if rec is not None:
            rec["tag"] = tag
        return d

    def open_index(self):
        from sparkbm25.jobs import Index

        with self.tracer.span("jobs.open"):
            return Index(self.spark, self.ix_dir)

    # ------------------------------------------------------------ requests
    def point(self, q, first: bool = False):
        """One single-query request; returns (rows, latency_s)."""
        from sparkbm25.index_query import index_search

        span = self.tracer.span
        name = "jobs.first_search" if first else "point.request"
        t0 = time.perf_counter()
        with span(name, req=q[0], cpu="light"):
            with span("point.call"):
                df = index_search(self.ix, [q], k=K)
            with span("point.collect"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        rows = [(r.query_id, r.rank, r.doc_id, r.score) for r in rows]
        self.results[q[0]] = (q, rows)
        return rows, dt

    def batch(self, qs, kind: str):
        from sparkbm25.index_query import index_search

        span = self.tracer.span
        t0 = time.perf_counter()
        with span(f"batch.{kind}", cpu="full"):
            with span("batch.call"):
                df = index_search(self.ix, qs, k=K, strategy=STRATEGY[kind])
            with span("batch.collect"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        rows = [(r.query_id, r.rank, r.doc_id, r.score) for r in rows]
        return rows, dt

    def attempt(self, fn, *args, **kw):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Mismatch as e:
            self.failed += 1
            self.mismatches.append(str(e))
        except Exception:  # keep the loop running, report the failure
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        return None

    def measured(self, fn, *args):
        """``attempt(fn, *args)``, keeping the CPU of a successful op."""
        c0 = self.cpu.snapshot()
        out = self.attempt(fn, *args)
        if out is not None:
            self.op_cpus.append(
                sum(ProcCpu.delta(c0, self.cpu.snapshot()).values()))
        return out

    # ------------------------------------------------------------ loops
    def run(self) -> None:
        getattr(self, f"run_{self.workload}")()
        self.gate()
        self.e2e = self.end_to_end()  # before the probe adds its own work
        if self.trace:
            self.probe()

    def window(self):
        """``more(n, least)``: keep looping while under ``seconds`` or
        while fewer than ``least`` ops completed."""
        t0 = time.perf_counter()
        return (lambda n, least: time.perf_counter() - t0 < self.seconds
                or n < least)

    def run_build(self) -> None:
        more = self.window()
        with RssSampler() as rss:
            i = 0
            while more(i, 2):
                shutil.rmtree(self.ix_dir, ignore_errors=True)
                t0 = time.perf_counter()
                d = self.measured(self.build_whole, f"b{i % 2}")
                if d is not None:
                    self.ops.append(time.perf_counter() - t0)
                    self.ix_dir = d
                i += 1
        self.peak_rss_mb = rss.peak_mb
        self.ix = self.open_index()
        b = median(self.ops)
        self.named["build_turns_per_s"] = (self.n_turns / b, "turns/s")
        self.named["build_peak_rss_mb"] = (self.peak_rss_mb, "MB")
        self.named["index_bytes_per_posting"] = (
            dir_bytes(self.ix_dir) / self.manifest["metrics"]["total_postings"],
            "B")

    def run_search_point(self) -> None:
        more = self.window()
        with RssSampler() as rss:
            i = 1
            while more(len(self.ops), POINT_MIN_REQS):
                out = self.measured(self.point,
                                   self.queries[i % len(self.queries)])
                if out is not None:
                    self.ops.append(out[1])
                i += 1
        self.peak_rss_mb = rss.peak_mb
        ms = [x * 1e3 for x in self.ops]
        self.named["point_p50_ms"] = (median(ms), "ms")
        self.named["point_p95_ms"] = (quantile(ms, 0.95), "ms")

    def run_search_batch(self) -> None:
        more = self.window()
        per = {k: [] for k in STRATEGY}
        with RssSampler() as rss:
            i = 0
            while more(i, BATCH_MIN):
                kind = list(STRATEGY)[i % 2]
                lo = (i * BATCH_QUERIES) % len(self.queries)
                qs = self.queries[lo:lo + BATCH_QUERIES]
                out = self.measured(self.batch, qs, kind)
                if out is not None:
                    self.ops.append(out[1])
                    per[kind].append(out[1])
                    self.keep_batch(qs, out[0])
                i += 1
        self.peak_rss_mb = rss.peak_mb
        for kind, ts in per.items():
            self.named[f"batch_{kind}_qps"] = (
                BATCH_QUERIES * len(ts) / sum(ts) if ts else None, "queries/s")

    def keep_batch(self, qs, rows) -> None:
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r[0], []).append(r)
        for q in qs:
            self.results[q[0]] = (q, by_q.get(q[0], []))

    def run_maintain(self) -> None:
        more = self.window()
        with RssSampler() as rss:
            c = 1  # cycle 0 warmed up in setup
            while more(c - 1, CYCLE_MIN) and c < N_BATCHES:
                out = self.attempt(self.cycle, c)
                if out is not None:
                    self.ops.append(out)
                c += 1
        self.peak_rss_mb = rss.peak_mb
        m = self.maint
        self.named["append_p50_s"] = (median(m["append"]), "s")
        self.named["delete_p50_s"] = (median(m["delete"]), "s")
        self.named["compact_s"] = (median(m["compact"]), "s",
                                   len(m["compact"]))
        self.named["maintain_search_p50_ms"] = (
            median([x * 1e3 for x in m["search"]]), "ms")

    def cycle(self, c: int) -> float:
        """One maintenance cycle on ``self.ix_dir``: append + finalize a
        micro-batch, delete ~1% of live docs, reopen, a burst of point
        searches and one 100-query batch, then compact. Returns the summed
        latency of the timed steps; the route and tombstone checks between
        them are untimed."""
        from sparkbm25.jobs import delete_docs
        from sparkbm25.streaming import (append_batch, compact_index,
                                         finalize_stream)

        span, sp, d = self.tracer.span, self.spark, self.ix_dir
        m = self.maint
        steps: dict[str, float] = {}
        cpu = 0.0
        self.cycles.append(steps)

        def step(fn, name):
            nonlocal cpu
            c0, t0 = self.cpu.snapshot(), time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            cpu += sum(ProcCpu.delta(c0, self.cpu.snapshot()).values())
            steps[name] = steps.get(name, 0.0) + dt
            return out, dt

        lo = (N_BASE_CONVS + c * BATCH_CONVS) << TURN_BITS
        hi = (N_BASE_CONVS + (c + 1) * BATCH_CONVS) << TURN_BITS
        micro = self.full.filter(f"doc_id >= {lo} AND doc_id < {hi}")

        def append():
            with span("streaming.append_batch", cpu="full"):
                append_batch(micro, d, epoch_id=c)
            with span("streaming.finalize_stream", cpu="full"):
                finalize_stream(sp, d)

        _, dt = step(append, "append")
        self.live.update(self.batch_ids[c])
        m["append"].append(dt)
        n_del = max(1, round(DELETE_FRACTION * len(self.live)))
        dead = self.rng.sample(sorted(self.live), n_del)

        def delete():
            with span("jobs.delete_docs", cpu="full"):
                delete_docs(sp, d, dead)

        _, dt = step(delete, "delete")
        self.live.difference_update(dead)
        self.deleted.update(dead)
        m["delete"].append(dt)
        self.ix, _ = step(self.open_index, "open")
        qs = [self.queries[(c * 37 + j) % len(self.queries)]
              for j in range(BURST)]
        got = []
        for j, q in enumerate(qs):
            (rows, lat), _ = step(lambda: self.point(q, first=j == 0),
                                  "search")
            got.extend(rows)
            m["search"].append(lat)
        lo_q = (c * BATCH_QUERIES) % len(self.queries)
        bq = self.queries[lo_q:lo_q + BATCH_QUERIES]
        (rows, _), _ = step(lambda: self.batch(bq, "or"), "batch")
        got.extend(rows)
        # untimed checks: the exchange route must agree bit-exactly with
        # the default route, and no deleted doc may come back
        from sparkbm25.index_query import index_search

        with span("check.route"):
            ref = [tuple(r) for r in
                   index_search(self.ix, bq, k=K, direct=False).collect()]
        if sorted(ref) != sorted(rows):
            raise Mismatch(f"cycle {c}: direct=False differs from default")
        back = {r[2] for r in got} & self.deleted
        if back:
            raise Mismatch(f"cycle {c}: deleted docs returned: {sorted(back)[:5]}")
        self.groups = len(self.ix.manifest["completed_groups"])
        self.n_deleted = self.ix.n_deleted()

        def compact():
            with span("streaming.compact_index", cpu="full"):
                compact_index(sp, d)

        _, dt = step(compact, "compact")
        m["compact"].append(dt)
        self.op_cpus.append(cpu)
        return sum(steps.values())

    # ------------------------------------------------------------ gate
    def gate(self) -> None:
        """Check a seeded sample of the run's requests against the
        index-independent scorer ``query.score_all_topk`` over the same
        corpus: same doc_ids rank by rank, bit-identical scores, ties by
        ascending doc_id. ``maintain`` checks routes and tombstones inside
        each cycle instead (its corpus changes under the index)."""
        from sparkbm25.query import score_all_topk

        if self.workload == "maintain":
            return
        if self.workload == "build":
            for q in self.queries[:GATE_SAMPLE]:
                self.attempt(self.point, q)
        qids = sorted(self.results)
        sample = self.rng.sample(qids, min(GATE_SAMPLE, len(qids)))
        qs = [self.results[i][0] for i in sample]
        with self.tracer.span("check.oracle"):
            want: dict[int, list] = {}
            for r in score_all_topk(self.base, qs, k=K).collect():
                want.setdefault(r.query_id, []).append(
                    (r.query_id, r.rank, r.doc_id, r.score))
        for qid in sample:
            got = sorted(self.results[qid][1], key=lambda r: r[1])
            exp = sorted(want.get(qid, []), key=lambda r: r[1])
            ties_ok = all(a[3] > b[3] or (a[3] == b[3] and a[2] < b[2])
                          for a, b in zip(got, got[1:]))
            if got != exp or not ties_ok:
                self.failed += 1
                self.mismatches.append(
                    f"query {qid}: engine {got[:3]} != oracle {exp[:3]}")

    # ------------------------------------------------------------ probes
    def probe(self) -> None:
        """Traced run only: trace one whole ``jobs.build_index`` layer by
        layer, and exercise the layers this workload does not, so every
        per-layer metric is measured in every traced run.

        During that one build, the build steps ``build_index`` calls
        (``compute_corpus_stats``, ``write_group_blocks``) and the Spark
        actions it runs (parquet writes, ``count``, ``first``) each run in a
        span of their own, so the layer walls are parts of the same build
        whose wall they must add up to."""
        import sparkbm25.jobs as jobs

        span = self.tracer.span

        def wrap(owner, attr, name):
            orig = getattr(owner, attr)

            def traced(*a, **kw):
                with span(name, cpu="full"):
                    return orig(*a, **kw)

            setattr(owner, attr, traced)
            return owner, attr, orig

        patches = [
            wrap(jobs, "compute_corpus_stats", "build.stats"),
            wrap(jobs, "write_group_blocks", "build.postings"),
            wrap(type(self.base.write), "parquet", "spark.write"),
            wrap(type(self.base), "count", "spark.action"),
            wrap(type(self.base), "first", "spark.action"),
        ]
        try:
            self.whole_dir = self.build_whole("layers")
        finally:
            for owner, attr, orig in reversed(patches):
                setattr(owner, attr, orig)
        if self.workload != "maintain":
            # one maintenance cycle (append, delete, reopen, point burst,
            # batch, compact) on this run's index
            self.attempt(self.cycle, 0)
        if self.workload != "search_batch":
            self.ix = self.open_index()  # compaction replaced the files
            lo = (7 * BATCH_QUERIES) % len(self.queries)
            self.attempt(self.batch, self.queries[lo:lo + BATCH_QUERIES],
                         "blockmax")

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        cpu = median(self.op_cpus)
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_ms": (median(self.ops) * 1e3 if self.ops else None, "ms"),
            "cpu_ms_per_op": (cpu * 1e3 if cpu is not None else None, "ms"),
        }

    def per_layer(self) -> dict:
        from per_layer import per_layer

        return per_layer(self)

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started (the JVM, the Python worker daemon and its workers)."""
        from pyspark import SparkContext

        started = descendants()
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        wait_gone(started)


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def descendants() -> list[int]:
    from tracing import _children_map, _subtree

    return _subtree(os.getpid(), _children_map())[1:]


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our own child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the timeout."""
    import signal

    deadline = time.time() + timeout_s
    while pids := [p for p in pids if _alive(p)]:
        if time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)
