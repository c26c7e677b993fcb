"""Per-layer numbers of a traced run.

Three sources, all outside the engine:

* spans recorded by ``tracing.Tracer`` around the engine's boundary
  methods (``wrap_engine``) and around each benchmark operation;
* the Spark event log of the run's session, attributed to spans by time;
* in-process, single-core replays of the Python kernels on the run's own
  inputs: the tokenizer on the corpus's 2048-doc content slices, postings
  assembly on one partition's tokenized rows, and the DAAT kernels on
  every shard's ``TermSlice``s of the run's queries.

A metric whose spans or counters are missing (a wrapped method was
renamed, or the workload never reached that layer) is left out and its
layer is named in ``absent``; the run does not fail.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from nyu_search_engine_spark.functions.bm25 import idf_np
from nyu_search_engine_spark.functions.tokenize import (TOKENIZE_DOCS_PER_SLICE,
                                                        tokenize_tf_batch)
from nyu_search_engine_spark.operators import assemble, daat
from nyu_search_engine_spark.plans.search_index import IndexSearcher

import tracing

# (method, layer) pairs wrapped in traced runs; the span prefix set by the
# benchmark per operation (query / exhaustive / batch) names the path
ENGINE_LAYERS = (
    ("_probe_df", "probe"),
    ("_pruned", "scan_kernel"),
    ("_exhaustive", "scan_kernel"),
    ("_batch_topk", "scan_kernel"),
    ("_decorate", "decorate"),
    ("_decorate_batch", "decorate"),
)
BUILD_PHASES = {"assign": "build.assign_s",
                "docs_write": "build.tokenize_cache_stats_s",
                "postings": "build.postings_s",
                "lexicon": "build.lexicon_s"}
REPLAY_SLICES = 8
REPLAY_REPS = 3

# every per-layer metric of a traced run, with its unit (BENCHMARK.json
# lists the same names); spark.* and arrow.* are per measured operation
LAYER_UNITS = {
    "setup.jvm_start_s": "s", "setup.worker_warm_s": "s",
    "setup.index_build_s": "s", "setup.searcher_open_s": "s",
    "build.assign_s": "s", "build.tokenize_cache_stats_s": "s",
    "build.postings_s": "s", "build.lexicon_s": "s",
    "tokenize.docs_per_s_1core": "1/s", "assemble.postings_per_s_1core": "1/s",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.peak_exec_mem_bytes": "B", "spark.jobs": "count", "spark.tasks": "count",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "query.probe_ms": "ms", "query.scan_kernel_ms": "ms", "query.decorate_ms": "ms",
    "query.jobs_per_query": "count", "query.tasks_per_query": "count",
    "query.scan_bytes_per_query": "B", "query.scan_rows_useful_frac": "ratio",
    "query.rare_p50_ms": "ms", "query.hot_p50_ms": "ms", "query.oov_p50_ms": "ms",
    "exhaustive.p50_ms": "ms", "exhaustive.scan_kernel_ms": "ms",
    "exhaustive.decoded_postings_per_query": "count",
    "exhaustive.shuffle_bytes_per_query": "B",
    "daat.kernel_ms_per_query_1core": "ms", "daat.termslice_build_ms_per_query": "ms",
    "daat.blocks_decoded_frac": "ratio", "daat.batch_slice_reuse_frac": "ratio",
    "batch.probe_ms": "ms", "batch.chunks": "count", "batch.scan_kernel_ms": "ms",
    "batch.candidate_rows": "count", "batch.driver_merge_ms": "ms",
    "trace.unattributed_frac": "ratio", "trace.op_p50_ms": "ms",
}


def wrap_engine(tracer: tracing.Tracer) -> None:
    for attr, layer in ENGINE_LAYERS:
        tracer.wrap(IndexSearcher, attr, layer)


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def phase_seconds(build_metrics: dict) -> dict[str, float]:
    phases = build_metrics.get("phases", {})
    return {name: phases[p]["wall_s"] for p, name in BUILD_PHASES.items()
            if p in phases}


# --- replays -------------------------------------------------------------------

def _contents(corpus_dir: str, n: int) -> pa.Array:
    got, have = [], 0
    for b in ds.dataset(corpus_dir, format="parquet").to_batches(columns=["content"]):
        got.append(b.column(0))
        have += b.num_rows
        if have >= n:
            break
    return pa.concat_arrays(got).slice(0, n)


def replay_tokenize(corpus_dir: str) -> float:
    """docs/s of ``tokenize_tf_batch`` on 2048-doc slices, one core."""
    arr = _contents(corpus_dir, REPLAY_SLICES * TOKENIZE_DOCS_PER_SLICE)
    t = time.perf_counter()
    for lo in range(0, len(arr), TOKENIZE_DOCS_PER_SLICE):
        tokenize_tf_batch(arr.slice(lo, TOKENIZE_DOCS_PER_SLICE))
    return len(arr) / (time.perf_counter() - t)


def replay_assemble(corpus_dir: str, part_docs: int, avgdl: float) -> float:
    """postings/s of ``assemble_postings`` on one partition's rows, one core."""
    terms, tfs, doclen = tokenize_tf_batch(_contents(corpus_dir, part_docs))
    n = len(doclen)
    rb = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array(np.zeros(n, dtype=np.int32)),
         pa.array(doclen, pa.int32()), terms, tfs],
        names=["doc_id", "shard", "doclen", "terms", "tfs"])
    walls, postings = [], 0
    for _ in range(REPLAY_REPS):
        t = time.perf_counter()
        out = list(assemble.assemble_postings(avgdl)(iter([rb])))
        walls.append(time.perf_counter() - t)
        postings = sum(int(np.sum(b.column(2).to_numpy())) for b in out)
    return postings / statistics.median(walls)


def _shard_rows(ref, plan: list[str], mode: str) -> dict[int, dict[str, dict]]:
    """{shard: {term: postings row}} of the shards a kernel would run on."""
    by_shard: dict[int, dict[str, dict]] = defaultdict(dict)
    for t in plan:
        for row in ref.slice_rows(t):
            by_shard[row["shard"]][t] = row
    return {s: rows for s, rows in by_shard.items()
            if mode == "OR" or len(rows) == len(plan)}


def replay_daat(ref, queries, batches) -> dict[str, float]:
    """Single-core DAAT kernel replay over every shard of each query."""
    decoded: set = set()
    orig = daat.TermSlice.decode_block

    def counting(self, b):
        decoded.add((id(self), int(b)))
        return orig(self, b)

    kernel_ms, build_ms, n_dec, n_blocks = [], [], 0, 0
    daat.TermSlice.decode_block = counting
    try:
        for q in queries:
            plan = ref.planned(q)
            if plan is None:
                continue
            rows = _shard_rows(ref, plan, q.mode)
            idf = {t: idf_np(ref.lex.df[t], ref.n_docs) for t in plan}
            decoded.clear()
            t0 = time.perf_counter()
            shards = {s: [(t, idf[t], daat.TermSlice(r[t])) for t in plan if t in r]
                      for s, r in rows.items()}
            t1 = time.perf_counter()
            fn = daat.shard_topk_and if q.mode == "AND" else daat.shard_topk_or
            for sl in shards.values():
                fn(sl, q.k, ref.avgdl)
            t2 = time.perf_counter()
            build_ms.append((t1 - t0) * 1000.0)
            kernel_ms.append((t2 - t1) * 1000.0)
            n_dec += len(decoded)
            n_blocks += sum(s.n_blocks for sl in shards.values() for _, _, s in sl)
    finally:
        daat.TermSlice.decode_block = orig
    refs = built = 0
    for batch in batches:
        per_shard: dict[int, list[set]] = defaultdict(list)
        for q in batch.values():
            plan = ref.planned(q)
            if plan is None:
                continue
            for shard, r in _shard_rows(ref, plan, q.mode).items():
                per_shard[shard].append(set(r))
        for sets in per_shard.values():
            refs += sum(len(s) for s in sets)
            built += len(set().union(*sets))
    out = {"daat.kernel_ms_per_query_1core": _median(kernel_ms),
           "daat.termslice_build_ms_per_query": _median(build_ms),
           "daat.blocks_decoded_frac": n_dec / n_blocks if n_blocks else None,
           "daat.batch_slice_reuse_frac": 1.0 - built / refs if refs else None}
    return {k: v for k, v in out.items() if v is not None}


# --- spans + event log -----------------------------------------------------------

def _children(tracer, op_span_idx: int) -> list[tracing.Span]:
    return [s for s in tracer.spans if s.parent == op_span_idx]


def _per_op(tracer, prefix: str, layer: str) -> list[float]:
    """Per-operation sum of ``<prefix>.<layer>`` span time, in ms."""
    out = []
    for i, s in enumerate(tracer.spans):
        if s.name == f"{prefix}.op":
            out.append(sum(c.ms for c in tracer.spans
                           if c.op == s.op and c.name == f"{prefix}.{layer}"))
    return out


def span_metrics(tracer, jobs, lex) -> dict[str, float]:
    out: dict[str, float | None] = {}
    q_ops = tracer.by_name("query.op")
    n_q = len(q_ops)
    if n_q:
        scans = tracer.by_name("query.scan_kernel")
        q_jobs = tracing.jobs_in(jobs, q_ops)
        s_jobs = tracing.jobs_in(jobs, scans)
        useful = sum(sum(lex.n_slices.get(t, 0) for t in s.attrs["terms"])
                     for s in q_ops if s.attrs.get("planned"))
        read = tracing.total(s_jobs, "internal.metrics.input.recordsRead")
        out.update({
            "query.probe_ms": _median(_per_op(tracer, "query", "probe")),
            "query.scan_kernel_ms": _median(_per_op(tracer, "query", "scan_kernel")),
            "query.decorate_ms": _median(
                a + b for a, b in zip(_per_op(tracer, "query", "decorate"),
                                      _per_op(tracer, "query", "collect"))),
            "query.jobs_per_query": len(q_jobs) / n_q,
            "query.tasks_per_query": sum(j.tasks for j in q_jobs) / n_q,
            "query.scan_bytes_per_query":
                tracing.total(s_jobs, "internal.metrics.input.bytesRead") / n_q,
            "query.scan_rows_useful_frac": useful / read if read else None,
        })
        for cls in ("rare", "hot", "oov"):
            out[f"query.{cls}_p50_ms"] = _median(
                s.ms for s in q_ops if s.attrs.get("cls") == cls)
    e_ops = tracer.by_name("exhaustive.op")
    if e_ops:
        e_jobs = tracing.jobs_in(jobs, tracer.by_name("exhaustive.scan_kernel"))
        out.update({
            "exhaustive.p50_ms": _median(s.ms for s in e_ops),
            "exhaustive.scan_kernel_ms": _median(_per_op(tracer, "exhaustive", "scan_kernel")),
            "exhaustive.decoded_postings_per_query": tracing.node_total(
                e_jobs, "MapInArrow", tracing.OUT_ROWS) / len(e_ops),
            "exhaustive.shuffle_bytes_per_query": tracing.total(
                e_jobs, "internal.metrics.shuffle.write.bytesWritten") / len(e_ops),
        })
    b_ops = tracer.by_name("batch.op")
    if b_ops:
        scans = tracer.by_name("batch.scan_kernel")
        merge = defaultdict(float)
        for s in scans:
            merge[s.op] += s.ms - sum(j.ms for j in tracing.jobs_in(jobs, [s]))
        out.update({
            "batch.probe_ms": _median(_per_op(tracer, "batch", "probe")),
            "batch.chunks": len(scans) / len(b_ops),
            "batch.scan_kernel_ms": _median(_per_op(tracer, "batch", "scan_kernel")),
            "batch.candidate_rows": tracing.node_total(
                tracing.jobs_in(jobs, scans), "FlatMapGroupsInPandas",
                tracing.OUT_ROWS) / len(b_ops),
            "batch.driver_merge_ms": _median(merge[s.op] for s in b_ops),
        })
    return {k: v for k, v in out.items() if v is not None}


def unattributed_frac(tracer, window_ops: list[tracing.Span],
                      build_phase_s: list[float] | None) -> float:
    """Share of the measured operations' wall not covered by a layer span
    (build: by the phases ``build_index`` reports)."""
    wall = sum(s.end - s.start for s in window_ops)
    if build_phase_s is not None:
        return 1.0 - sum(build_phase_s) / wall
    idx = {id(s): i for i, s in enumerate(tracer.spans)}
    covered = sum(tracing.covered_s(_children(tracer, idx[id(s)]), s.start, s.end)
                  for s in window_ops)
    return 1.0 - covered / wall
