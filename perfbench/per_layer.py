"""Per-layer metrics of a traced run, from its spans, the Spark stage
metrics of the jobs each span launched, and per-process CPU.

Names follow the engine's modules: ``session``, ``fixtures``, ``build``
(with ``analysis`` and ``codecs``), ``jobs``, ``index``, ``point`` and
``batch`` (``index_query``), ``streaming`` and ``maintain``.
"""

from __future__ import annotations

import os
import statistics

from tracing import StageMetrics
from workloads import dir_bytes

MB = 2**20


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def _mean(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else None


def _dur(s) -> float:
    return s["end"] - s["start"]


def per_layer(b) -> dict[str, tuple]:
    """{metric: (value, unit)} for a finished traced ``Bench`` run."""
    tr = b.tracer
    st = StageMetrics(b.spark.sparkContext).load()
    out: dict[str, tuple] = {}

    def stages(span) -> list[dict]:
        return st.stages_of(tr.subtree_ids(span["id"]))

    def n_jobs(span) -> int:
        return len(st.jobs_of(tr.subtree_ids(span["id"])))

    def child(span, name):
        return [s for s in tr.spans
                if s["parent"] == span["id"] and s["name"] == name]

    def cpu_util(spans) -> float | None:
        wall = sum(_dur(s) for s in spans)
        cpu = sum(sum(s["cpu"].values()) for s in spans)
        # share of the whole host, not of Spark's task slots
        nproc = len(os.sched_getaffinity(0))
        return cpu / (wall * nproc) if wall else None

    out["session.start_s"] = (_dur(tr.named("session.start")[0]), "s")
    out["fixtures.corpus_s"] = (_dur(tr.named("fixtures.corpus")[0]), "s")

    # --- build: the traced whole build of the probe ----------------------
    # its direct children in build_index's order: build.stats, the doc
    # length write, build.postings, then the finalize actions
    whole = [s for s in tr.named("jobs.build_index")
             if s.get("tag") == "layers"][0]
    kids = sorted(child(whole, "build.stats") + child(whole, "build.postings")
                  + child(whole, "spark.write") + child(whole, "spark.action"),
                  key=lambda s: s["start"])
    cut = [k["name"] for k in kids].index("build.postings")
    layers = {
        "stats": child(whole, "build.stats"),
        "doc_stats": [k for k in kids[:cut] if k["name"] != "build.stats"],
        "postings": [kids[cut]],
        "finalize": kids[cut + 1:],
    }
    for n, spans in layers.items():
        out[f"build.{n}.wall_s"] = (sum(_dur(s) for s in spans), "s")
    post = stages(kids[cut])
    # stage 1 (SPIMI runs) reads the salted exchange and writes the merge
    # exchange; the merge + vbyte + parquet write stage only reads
    runs = [s for s in post if s["shuffleReadBytes"] and s["shuffleWriteBytes"]]
    merge = [s for s in post if s["shuffleReadBytes"]
             and not s["shuffleWriteBytes"]]
    out["build.runs.executor_run_s"] = (
        sum(s["executorRunTime"] for s in runs) / 1e3, "s")
    out["build.runs.shuffle_write_mb"] = (
        sum(s["shuffleWriteBytes"] for s in runs) / MB, "MB")
    out["build.merge_write.executor_run_s"] = (
        sum(s["executorRunTime"] for s in merge) / 1e3, "s")
    out["build.merge_write.spill_mb"] = (
        sum(s["diskBytesSpilled"] for s in merge) / MB, "MB")
    out["build.merge_write.task_skew"] = (
        _mean([st.task_skew(s) for s in merge]), "ratio")
    parts = [s for spans in layers.values() for s in spans]
    out["build.spark_jobs"] = (n_jobs(whole), "count")
    out["build.python_worker_cpu_s"] = (
        sum(s["cpu"]["py"] for s in parts), "s")
    out["build.jvm_cpu_s"] = (sum(s["cpu"]["jvm"] for s in parts), "s")
    out["build.cpu_util"] = (cpu_util([whole]), "ratio")
    out["build.layer_sum_ratio"] = (
        sum(_dur(s) for s in parts) / _dur(whole), "ratio")
    # the rest of the whole build: manifest, lock and claim, plan building
    out["jobs.build_self_s"] = (
        _dur(whole) - sum(_dur(s) for s in parts), "s")

    m = b.manifest["metrics"]
    out["index.postings"] = (m["total_postings"], "count")
    out["index.blocks"] = (m["total_blocks"], "count")
    out["index.files"] = (_count_parquet(b.whole_dir), "count")
    out["index.disk_mb"] = (dir_bytes(b.whole_dir) / MB, "MB")

    # --- point path --------------------------------------------------------
    reqs = tr.named("point.request")
    out["point.call_ms"] = (
        _med([_dur(c) * 1e3 for r in reqs for c in child(r, "point.call")]),
        "ms")
    out["point.collect_ms"] = (
        _med([_dur(c) * 1e3 for r in reqs for c in child(r, "point.collect")]),
        "ms")
    jobs = [n_jobs(r) for r in reqs]
    out["point.local_share"] = (
        sum(1 for j in jobs if j == 0) / len(jobs) if jobs else None, "ratio")
    out["point.spark_jobs_per_req"] = (_mean(jobs), "count")
    post, files = _point_footprint(b, [r["req"] for r in reqs])
    out["point.postings_per_req"] = (post, "count")
    out["point.files_per_req"] = (files, "count")
    # means, not medians: JVM CPU comes in 10 ms clock ticks
    out["point.driver_cpu_ms"] = (
        _mean([r["cpu"]["driver"] * 1e3 for r in reqs]), "ms")
    out["point.jvm_cpu_ms"] = (_mean([r["cpu"]["jvm"] * 1e3 for r in reqs]),
                               "ms")
    out["jobs.open_ms"] = (
        _med([_dur(s) * 1e3 for s in tr.named("jobs.open")]), "ms")
    out["jobs.first_search_ms"] = (
        _med([_dur(s) * 1e3 for s in tr.named("jobs.first_search")]), "ms")

    # --- batch path, per strategy -------------------------------------------
    for kind in ("or", "blockmax"):
        bs = tr.named(f"batch.{kind}")
        p = f"batch.{kind}"
        out[f"{p}.call_ms"] = (
            _med([_dur(c) * 1e3 for s in bs for c in child(s, "batch.call")]),
            "ms")
        out[f"{p}.collect_s"] = (
            _med([_dur(c) for s in bs for c in child(s, "batch.collect")]), "s")
        sg = [stages(s) for s in bs]
        out[f"{p}.tasks"] = (_mean([sum(x["numTasks"] for x in g) for g in sg]),
                             "count")
        out[f"{p}.executor_run_s"] = (
            _mean([sum(x["executorRunTime"] for x in g) / 1e3 for g in sg]),
            "s")
        out[f"{p}.python_worker_cpu_s"] = (
            _mean([s["cpu"]["py"] for s in bs]), "s")
        out[f"{p}.jvm_cpu_s"] = (_mean([s["cpu"]["jvm"] for s in bs]), "s")
        out[f"{p}.shuffle_read_mb"] = (
            _mean([sum(x["shuffleReadBytes"] for x in g) / MB for g in sg]),
            "MB")
        out[f"{p}.cpu_util"] = (
            _mean([cpu_util([s]) for s in bs]), "ratio")

    # --- streaming and deletes ----------------------------------------------
    app = tr.named("streaming.append_batch")
    out["streaming.append_batch.wall_s"] = (_med([_dur(s) for s in app]), "s")
    out["streaming.append_batch.spark_jobs"] = (
        _mean([n_jobs(s) for s in app]), "count")
    out["streaming.append_batch.executor_run_s"] = (
        _mean([sum(x["executorRunTime"] for x in stages(s)) / 1e3
               for s in app]), "s")
    out["streaming.finalize_stream.wall_s"] = (
        _med([_dur(s) for s in tr.named("streaming.finalize_stream")]), "s")
    dl = tr.named("jobs.delete_docs")
    out["jobs.delete_docs.wall_s"] = (_med([_dur(s) for s in dl]), "s")
    out["jobs.delete_docs.spark_jobs"] = (_mean([n_jobs(s) for s in dl]),
                                          "count")
    cp = tr.named("streaming.compact_index")
    out["streaming.compact_index.wall_s"] = (_med([_dur(s) for s in cp]), "s")
    out["streaming.compact_index.output_mb"] = (
        _mean([sum(x["outputBytes"] for x in stages(s)) / MB for s in cp]),
        "MB")
    out["streaming.compact_index.shuffle_write_mb"] = (
        _mean([sum(x["shuffleWriteBytes"] for x in stages(s)) / MB
               for s in cp]), "MB")
    out["maintain.groups"] = (b.groups, "count")
    out["maintain.n_deleted"] = (b.n_deleted, "count")
    return out


def _count_parquet(d: str) -> int:
    return sum(f.endswith(".parquet")
               for _, _, fs in os.walk(os.path.join(d, "postings")) for f in fs)


def _point_footprint(b, qids) -> tuple[float | None, float | None]:
    """Mean postings (sum of the query terms' df) and mean posting files
    (files of the terms' buckets) per point request, read through the
    public ``Index`` handle on the run's index as it stands at the end."""
    from sparkbm25.analysis import tokenize_py
    from sparkbm25.jobs import Index
    from sparkbm25.xxhash64 import spark_pmod_bucket

    text = {q[0]: q[1] for q in b.queries}
    ix = Index(b.spark, b.ix_dir)
    posts, files = [], []
    for qid in qids:
        terms = sorted(set(tokenize_py(text[qid])))
        stats = ix.term_stats_lookup(terms)
        posts.append(sum(v[0] for v in stats.values()))
        buckets = sorted({spark_pmod_bucket(t, ix.num_term_buckets)
                          for t in stats})
        fm = ix.shard_file_map(buckets) if buckets else {}
        files.append(sum(len(v) for v in fm.values()))
    return _mean(posts), _mean(files)
