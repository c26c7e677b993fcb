"""Seeded build / query / batch benchmark of the Spark BM25 engine.

Run from the repository root:

    python3 perfbench/run.py --workload build|query_mixed|query_batch \
        --seed N --seconds S --trace 0|1 [--size full|smoke]

One driver process, one closed-loop client, ``local[<cores>]``. Each run
sets up (Spark session, Python-worker warm-up, workload input), measures
the workload for ``--seconds`` (whole operations; at least one), checks
every output, and prints one JSON line per run: a ``perfbench`` detail
line (host window, class mix, per-class medians), then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).

State lives in ``.perfbench/`` under the repository root: the pinned
corpus as Parquet, written once, and the query workloads' index, built
once by the checkout's own code and keyed by a hash of the package
sources. Everything else a run writes goes to ``.perfbench/tmp`` and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import mmap
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

WORKLOADS = ("build", "query_mixed", "query_batch")
STATE_DIR = ".perfbench"
PACKAGE = "nyu_search_engine_spark"
CORPUS_FILES = 32       # corpus layout is pinned, like bench.py's cache
DRIVER_MEMORY = "4g"
RSS_SAMPLE_S = 0.25
HELD_OUT_SEED = 1_000_003  # keep for verifying a claim, not for tuning one


@dataclass(frozen=True)
class Size:
    n_docs: int
    batch_queries: int
    setup_reps: int     # setup_s is the median of this many set-ups


SIZES = {"full": Size(100_000, 200, 3), "smoke": Size(3_000, 20, 1)}
# postings of the pinned corpus (BENCH_r05/r06); other sizes are counted
# with the spec tokenizer
EXPECTED_POSTINGS = {100_000: 19_472_465}


# --- host window ----------------------------------------------------------------

def _cpu_sample() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


def cpu_mix(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    tot = max(1, sum(d))
    return {"user_pct": 100.0 * (d[0] + d[1]) / tot,
            "sys_pct": 100.0 * (d[2] + d[5] + d[6]) / tot,
            "idle_pct": 100.0 * (d[3] + d[4]) / tot,
            "steal_pct": 100.0 * d[7] / tot}


def fault_us_per_page(probe_mb: int = 32) -> float:
    """First-touch minor-fault cost, as bench.py's ``_fault_cost_us``."""
    n = probe_mb << 20
    m = mmap.mmap(-1, n)
    t = time.perf_counter()
    for off in range(0, n, 4096):
        m[off] = 1
    dt = time.perf_counter() - t
    m.close()
    return 1e6 * dt / (n // 4096)


def _tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> tuple[int, int, int]:
    """Resident bytes under ``root``: (all processes, the JVM, the largest
    Python worker)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = jvm = worker = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        total += rss
        if comm == "java":
            jvm += rss
        elif comm.startswith("python") and pid != root:
            worker = max(worker, rss)
    return total, jvm, worker


class RssSampler:
    """Peak RSS of the whole process tree, of the JVM, and of the largest
    Python worker.

    Only the last repeats between identical runs: the JVM's resident heap
    grows with its collector's sizing decisions, and the number of idle
    Python workers (each keeping its malloc arena) depends on task timing,
    so the totals differ by up to 3x."""

    def __init__(self) -> None:
        self.peak_total = self.peak_jvm = self.peak_worker = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, jvm, worker = tree_rss_bytes(os.getpid())
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_worker = max(self.peak_worker, worker)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_SAMPLE_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# --- the benchmark ----------------------------------------------------------------

def source_hash(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _warm(batches):
    # the first mapInArrow job pays the Python workers' start and imports
    import nyu_search_engine_spark.functions.tokenize  # noqa: F401
    import nyu_search_engine_spark.operators.assemble  # noqa: F401
    import nyu_search_engine_spark.operators.daat  # noqa: F401
    yield from batches


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


class Bench:
    def __init__(self, args, root: str) -> None:
        import numpy as np

        import tracing

        self.args = args
        self.wl = args.workload
        self.size = SIZES[args.size]
        self.root = root
        self.state = os.path.join(root, STATE_DIR)
        self.tmp = os.path.join(self.state, "tmp")
        self.events = os.path.join(self.tmp, "events")
        self.rng = np.random.default_rng(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer(self.wl, enabled=bool(args.trace))
        self.spark = None
        self.searcher = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": self.wl, "seed": args.seed,
                             "held_out_seed": args.seed == HELD_OUT_SEED,
                             "cores": self.cores, "size": args.size}
        self.op_ms: list[float] = []
        self.items = 0
        self.singles: list = []   # (Op, rows | None, ms, measured)
        self.batches: list = []   # (dict[int, Query], rows | None)
        self.builds: list = []    # (metrics, index_root)
        self._op_id = 0

    # -- set-up ------------------------------------------------------------------

    def _session(self):
        from nyu_search_engine_spark.session import get_spark

        conf = {"spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}"}
        if self.tracer.enabled:
            os.makedirs(self.events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.events})
        spark = get_spark(app_name=f"perfbench-{self.wl}", cores=self.cores,
                          extra_conf=conf)
        self.tracer.bind(spark.sparkContext)
        return spark

    @property
    def corpus_dir(self) -> str:
        from nyu_search_engine_spark.synth import SYNTH_VERSION

        return os.path.join(self.state, f"corpus_{self.size.n_docs}"
                            f"_v{SYNTH_VERSION}_p{CORPUS_FILES}")

    def _ensure_corpus(self) -> None:
        from nyu_search_engine_spark.synth import synth_corpus

        if os.path.exists(os.path.join(self.corpus_dir, "_SUCCESS")):
            return
        synth_corpus(self.spark, self.size.n_docs).repartition(CORPUS_FILES) \
            .write.mode("overwrite").parquet(self.corpus_dir)

    def _build(self, out: str) -> dict:
        from nyu_search_engine_spark.plans.build_index import build_index

        # n_groups=1 and a Parquet input scan, as bench.py's throughput shape
        return build_index(self.spark, self.spark.read.parquet(self.corpus_dir),
                           out, n_groups=1, resume=False, cache_input=False)

    def _ensure_index(self) -> str:
        """The query workloads' index, built once per package version."""
        key = f"index_{self.size.n_docs}_c{self.cores}_{source_hash(self.root)}"
        path = os.path.join(self.state, key)
        if not os.path.exists(os.path.join(path, "_PERFBENCH_OK")):
            for d in os.listdir(self.state):
                if d.startswith(f"index_{self.size.n_docs}_"):
                    shutil.rmtree(os.path.join(self.state, d))
            self._build(path)
            open(os.path.join(path, "_PERFBENCH_OK"), "w").close()
        return path

    def _open(self, index_root: str) -> None:
        from nyu_search_engine_spark.plans.search_index import IndexSearcher

        with self.tracer.span("setup.searcher_open"):
            t = time.perf_counter()
            self.searcher = IndexSearcher(self.spark, index_root)
            self.layer["setup.searcher_open_s"] = time.perf_counter() - t

    def setup(self) -> None:
        reps = []
        self.index_root = None
        for i in range(self.size.setup_reps):
            if self.spark is not None:
                self.searcher = None
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup.session"):
                self.spark = self._session()
            t1 = time.perf_counter()
            with self.tracer.span("setup.worker_warm"):
                self.spark.range(0, self.cores, numPartitions=self.cores) \
                    .mapInArrow(_warm, "id long").collect()
            t2 = time.perf_counter()
            if i == 0:
                self.layer["setup.jvm_start_s"] = t1 - t0
                self.layer["setup.worker_warm_s"] = t2 - t1
                # inputs made once per checkout are not set-up time
                self._ensure_corpus()
                if self.wl != "build":
                    self.index_root = self._ensure_index()
            t3 = time.perf_counter()
            if self.wl == "build":
                self.spark.read.parquet(self.corpus_dir)
            else:
                self._open(self.index_root)
            reps.append(time.perf_counter() - t3 + t2 - t0)
        self.detail["setup_reps_s"] = reps
        self.setup_s = statistics.median(reps)
        if self.wl == "build":
            # the warm-up build: a session's first build runs ~10% slower
            # while the JIT compiles, a cost a long-lived cluster amortizes
            with self.tracer.span("setup.index_build"):
                t = time.perf_counter()
                self._build(os.path.join(self.tmp, "warm"))
                self.layer["setup.index_build_s"] = time.perf_counter() - t
        elif self.tracer.enabled:
            # traced query runs build their index in set-up, so the build
            # layers are traced on every workload
            fresh = os.path.join(self.tmp, "index")
            with self.tracer.span("setup.index_build"):
                t = time.perf_counter()
                self.setup_build = self._build(fresh)
                self.layer["setup.index_build_s"] = time.perf_counter() - t
            self.index_root = fresh
            self._open(fresh)
        if self.wl != "build":
            self._load_reference(self.index_root)

    def _load_reference(self, index_root: str) -> None:
        import workloads as W

        self.lex = W.Lexicon(index_root, self.size.n_docs)
        self.ref = W.Reference(index_root, self.lex)

    # -- operations --------------------------------------------------------------

    def _next_op(self) -> None:
        self._op_id += 1
        self.tracer.op = self._op_id

    def single(self, op, measured: bool = True) -> None:
        self.tracer.prefix = "exhaustive" if op.method == "exhaustive" else "query"
        self._next_op()
        self.attempted += 1
        rows = None
        with self.tracer.span("op", job_group=True, cls=op.cls,
                              terms=list(op.query.terms),
                              planned=self.ref.planned(op.query) is not None):
            t = time.perf_counter()
            try:
                df = self.searcher.search(op.query, method=op.method)
                with self.tracer.span("collect"):
                    rows = df.collect()
            except Exception:
                traceback.print_exc()
            dt = time.perf_counter() - t
        self.tracer.prefix = ""
        self.singles.append((op, rows, dt * 1000.0, measured))
        if measured and rows is not None:
            self.op_ms.append(dt * 1000.0)
            self.items += 1

    def batch(self, queries: dict, measured: bool = True) -> None:
        self.tracer.prefix = "batch"
        self._next_op()
        self.attempted += 1
        rows = None
        with self.tracer.span("op", job_group=True, n=len(queries)):
            t = time.perf_counter()
            try:
                df = self.searcher.search_batch(queries)
                with self.tracer.span("collect"):
                    rows = df.collect()
            except Exception:
                traceback.print_exc()
            dt = time.perf_counter() - t
        self.tracer.prefix = ""
        self.batches.append((queries, rows))
        if measured and rows is not None:
            self.op_ms.append(dt * 1000.0)
            self.items += len(queries)

    def build(self) -> None:
        out = os.path.join(self.tmp, f"build_{len(self.builds)}")
        self.tracer.prefix = "build"
        self._next_op()
        self.attempted += 1
        m = None
        with self.tracer.span("op", job_group=True):
            t = time.perf_counter()
            try:
                m = self._build(out)
            except Exception:
                traceback.print_exc()
            dt = time.perf_counter() - t
        self.tracer.prefix = ""
        self.builds.append((m, out))
        if m is not None:
            self.op_ms.append(dt * 1000.0)
            self.items += m["n_docs"]
            self.detail.setdefault("build_phases_s", []).append(
                {k: v["wall_s"] for k, v in m.get("phases", {}).items()})

    # -- the measured window -------------------------------------------------------

    def measure(self) -> None:
        import numpy as np

        import workloads as W

        cycles = []
        if self.wl == "query_batch":
            pool = W.batch_pool(self.rng, self.lex)
            self.detail["batch_pool_terms"] = len(pool)
        # a session's first dozen queries run up to 1.5x slower while the
        # JIT and the workers warm: run one cycle from a separate stream
        # first, so the measured stream stays the same
        warm = np.random.default_rng([self.args.seed, 1])
        if self.wl == "query_mixed":
            for op in W.mixed_cycle(warm, self.lex):
                self.single(op, measured=False)
        elif self.wl == "query_batch":
            self.batch(W.make_batch(warm, pool, self.size.batch_queries), measured=False)
        self.detail["fault_us_per_page"] = fault_us_per_page()
        deadline = time.time() + self.args.seconds
        cpu0 = _cpu_sample()
        with RssSampler() as rss, self.tracer.span("window"):
            while True:
                if self.wl == "build":
                    self.build()
                elif self.wl == "query_mixed":
                    cycles.append(W.mixed_cycle(self.rng, self.lex))
                    for op in cycles[-1]:
                        self.single(op)
                else:
                    self.batch(W.make_batch(self.rng, pool, self.size.batch_queries))
                if time.time() >= deadline:
                    break
        self.detail.update(cpu_mix(cpu0, _cpu_sample()))
        self.worker_peak_rss_mb = rss.peak_worker / 2**20
        self.detail["peak_rss_mb"] = rss.peak_total / 2**20
        self.detail["jvm_peak_rss_mb"] = rss.peak_jvm / 2**20
        if self.wl == "query_mixed":
            self.detail["class_mix"] = W.class_mix([op for c in cycles for op in c])

    # -- checks ---------------------------------------------------------------------

    def check(self) -> None:
        import workloads as W

        if self.wl == "build":
            expected = self.expected_postings()
            for m, out in self.builds:
                bad = ["raised"] if m is None else W.check_build(
                    m, out, self.corpus, expected, self.rng)
                if bad:
                    self.failed += 1
                    print(f"perfbench: build check failed: {bad}", file=sys.stderr)
        for op, rows, _, _ in self.singles:
            if rows is None or not W.check_single(rows, op, self.ref, self.corpus):
                self.failed += 1
                print(f"perfbench: query check failed: {op}", file=sys.stderr)
        for queries, rows in self.batches:
            if rows is None or not W.check_batch(rows, queries, self.ref):
                self.failed += 1
                print("perfbench: batch check failed", file=sys.stderr)

    @functools.cached_property
    def corpus(self):
        import workloads as W

        return W.CorpusRows(self.corpus_dir)

    def expected_postings(self) -> int:
        if self.size.n_docs in EXPECTED_POSTINGS:
            return EXPECTED_POSTINGS[self.size.n_docs]
        from nyu_search_engine_spark.functions.tokenize import tokenize_py

        return sum(len(set(tokenize_py(c or "")))
                   for c in self.corpus.contents(range(self.corpus.n)).values())

    # -- traced-run extras ------------------------------------------------------------

    def layer_probe(self) -> None:
        """Traced runs also reach the layers their loop does not: one
        single query of each class and one batch."""
        import workloads as W

        if self.wl == "build":
            m, out = self.builds[-1]
            self.setup_build = m
            self._open(out)
            self._load_reference(out)
        for cls in dict.fromkeys(W.MIXED_CYCLE):
            self.single(W.make_op(self.rng, cls, self.lex), measured=False)
        pool = W.batch_pool(self.rng, self.lex)
        self.batch(W.make_batch(self.rng, pool, self.size.batch_queries),
                   measured=False)

    def trace_metrics(self) -> None:
        import layers
        import tracing

        sc = self.spark.sparkContext
        jobs = tracing.read_event_log(
            tracing.event_log_lines(self.events, sc.applicationId))
        window = self.tracer.by_name("window")
        ops = [s for s in self.tracer.spans if s.name.endswith(".op")
               and s.start >= window[0].start and s.end <= window[0].end]
        n = max(1, len(ops))
        for k, v in tracing.spark_totals(tracing.jobs_in(jobs, window)).items():
            self.layer[k] = v / n
        self.layer.update(layers.span_metrics(self.tracer, jobs, self.lex))
        if self.wl == "build":
            builds = [layers.phase_seconds(m) for m, _ in self.builds if m]
            for name in layers.BUILD_PHASES.values():
                self.layer[name] = statistics.median(b[name] for b in builds)
            phase_s = [sum(b.values()) for b in builds]
        else:
            self.layer.update(layers.phase_seconds(self.setup_build))
            phase_s = None
        self.layer["trace.unattributed_frac"] = layers.unattributed_frac(
            self.tracer, ops, phase_s)
        self.layer["trace.op_p50_ms"] = statistics.median(s.ms for s in ops)
        self.layer["tokenize.docs_per_s_1core"] = layers.replay_tokenize(self.corpus_dir)
        n_shards = len({r["shard"] for r in self.ref.slice_rows(self.lex.hot[0])})
        self.layer["assemble.postings_per_s_1core"] = layers.replay_assemble(
            self.corpus_dir, self.size.n_docs // n_shards, self.ref.avgdl)
        self.layer.update(layers.replay_daat(
            self.ref, [op.query for op, *_ in self.singles if op.method == "pruned"],
            [q for q, _ in self.batches]))
        self.detail["absent_layers"] = sorted(
            self.tracer.absent | (set(layers.LAYER_UNITS) - set(self.layer)))
        os.makedirs(os.path.join(self.state, "runs"), exist_ok=True)
        self.tracer.dump(os.path.join(
            self.state, "runs", f"{self.wl}-seed{self.args.seed}-spans.jsonl"))

    # -- result -----------------------------------------------------------------------

    def run(self) -> dict:
        import layers
        import workloads as W

        if self.tracer.enabled:
            layers.wrap_engine(self.tracer)
        phase = self.detail["phase_s"] = {}
        t = time.perf_counter()
        self.setup()
        phase["setup"] = time.perf_counter() - t
        self.measure()
        phase["measure"] = time.perf_counter() - t - phase["setup"]
        if self.tracer.enabled:
            self.layer_probe()
        t = time.perf_counter()
        self.check()
        phase["check"] = time.perf_counter() - t
        self.detail["op_ms"] = self.op_ms
        if self.batches:
            self.detail["batch_term_union"] = len(
                {t for q, _ in self.batches for x in q.values() for t in x.terms})
        if self.wl == "query_mixed":
            by_cls: dict[str, list] = {}
            for op, rows, ms, measured in self.singles:
                if measured and rows is not None:
                    by_cls.setdefault(op.cls, []).append(ms)
            self.detail["class_p50_ms"] = {c: statistics.median(v)
                                           for c, v in by_cls.items()}
        if self.tracer.enabled:
            self.trace_metrics()
            metrics = {k: (v, layers.LAYER_UNITS[k]) for k, v in self.layer.items()}
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "op_p50_ms": (statistics.median(self.op_ms), "ms"),
                "items_per_s": (self.items / (sum(self.op_ms) / 1000.0), "1/s"),
                "worker_peak_rss_mb": (self.worker_peak_rss_mb, "MB"),
                "index_bytes_per_posting": (self.bytes_per_posting(), "B"),
            }
        print(json.dumps({"perfbench": self.detail}))
        return {"correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    def bytes_per_posting(self) -> float:
        from nyu_search_engine_spark.constants import POSTINGS_DIR

        if self.wl == "build":
            m, root = self.builds[-1]
        else:
            root = self.index_root
            with open(os.path.join(root, "index_meta.json")) as fh:
                m = json.load(fh)
        return _dir_bytes(os.path.join(root, POSTINGS_DIR)) / m["n_postings"]

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its workers have exited."""
        if self.tracer.enabled:
            self.tracer.unwrap_all()
        if self.spark is not None:
            from pyspark import SparkContext

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
        deadline = time.time() + 30
        while len(_tree_pids(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.2)
        shutil.rmtree(self.tmp, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    state = os.path.join(root, STATE_DIR)
    tmp = os.path.join(state, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # every file a run writes stays under the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, root)
    bench = Bench(args, root)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
