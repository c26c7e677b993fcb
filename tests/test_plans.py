"""Physical-plan audits (SURVEY.md §4): the optimizations we rely on must
actually appear in the plan — term IN pushed into the Parquet scan, the
top-k decoration as a job-free driver lookup over only the hit row groups,
tokenizer on the Arrow path, and the global top-k as
TakeOrderedAndProject."""

import copy
import itertools
import os
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import functions as F

from nyu_search_engine_spark.plans.search import Query, bruteforce_topk
from nyu_search_engine_spark.plans.search_index import _DocLookup
from nyu_search_engine_spark.sources import fsio

_GROUPS = itertools.count()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_term_filter_pushed_to_postings_scan(searcher):
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher.postings.filter(F.col("term").isin(list(q.terms)))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs submitted while fn ran), read from the
    status tracker. A sentinel job submitted after fn is awaited first:
    the listener bus delivers job starts in order, so once the sentinel is
    visible every job of fn is too."""
    sc = spark.sparkContext
    group = f"plan-audit-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(group + "-end", "sentinel")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(group + "-end"):
        assert time.time() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return out, list(tracker.getJobIdsForGroup(group))


def test_decorate_submits_no_spark_job(spark, searcher):
    """Decorate is a driver-side lookup: after the kernel's job, building
    the decorated frame and collecting it submit 0 Spark jobs — for a
    single query, a batch and the empty results."""
    q = Query(("rareterm00", "hotterm0"), "OR")
    searcher.search(q, "pruned", decorate=True)  # docs index: footers only
    ranked, jobs = _jobs(spark, lambda: searcher._pruned(searcher.plan_terms(q), q))
    assert jobs and len(ranked) == q.k  # control: the kernel is a job
    df, jobs = _jobs(spark, lambda: searcher._decorate(ranked))
    assert jobs == []
    rows, jobs = _jobs(spark, df.collect)
    assert jobs == []
    assert [(r["rank"], r["doc_id"], r["score"]) for r in rows] == ranked
    assert all(r["repo"] and r["path"] and r["commit"] for r in rows)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "parquet" not in plan.lower(), plan

    batch = searcher.search_batch({1: q, 2: Query(("hotterm1",), "OR", 3)},
                                  decorate=True)
    rows, jobs = _jobs(spark, batch.collect)
    assert jobs == [] and len(rows) == q.k + 3
    for empty in (lambda: searcher.search(Query(("hotterm0", "oovterm"), "AND")),
                  lambda: searcher.search_batch({1: Query(("oovterm",), "AND")},
                                                decorate=True)):
        rows, jobs = _jobs(spark, lambda: empty().collect())
        assert jobs == [] and rows == []


class _RecordingFS(pafs.FileSystemHandler):
    """The local filesystem, recording every (offset, length) read from
    each file. A ``pyarrow.fs.PyFileSystem`` over it is a real pyarrow
    filesystem, so any reader (ParquetFile, pyarrow.dataset) is measured."""

    def __init__(self):
        self.local = pafs.LocalFileSystem()
        self.reads = defaultdict(list)

    def open_input_file(self, path):
        return pa.PythonFile(_RecordingFile(path, self.reads[path]), mode="r")

    def open_input_stream(self, path):
        return self.open_input_file(path)

    def get_file_info(self, paths):
        return self.local.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.local.get_file_info(selector)

    def normalize_path(self, path):
        return path

    def get_type_name(self):
        return "recording"

    def equals(self, other):
        return self is other

    def _read_only(self, *args, **kwargs):
        raise NotImplementedError("read-only test filesystem")

    create_dir = delete_dir = delete_dir_contents = delete_root_dir_contents = \
        delete_file = move = copy_file = open_output_stream = \
        open_append_stream = _read_only


class _RecordingFile:
    def __init__(self, path, log):
        self.fh = open(path, "rb")
        self.log = log

    def read(self, n=-1):
        pos = self.fh.tell()
        data = self.fh.read(n)
        self.log.append((pos, len(data)))
        return data

    def seek(self, pos, whence=0):
        return self.fh.seek(pos, whence)

    def tell(self):
        return self.fh.tell()

    def close(self):
        self.fh.close()

    @property
    def closed(self):
        return self.fh.closed


def _groups_read(path, reads):
    """Row groups of ``path`` whose looked-up column chunks a read touched."""
    md = pq.read_metadata(path)
    cols = [md.schema.names.index(c) for c in _DocLookup.COLUMNS]
    out = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        chunks = [rg.column(c) for c in cols]
        lo = min(c.dictionary_page_offset if c.has_dictionary_page
                 else c.data_page_offset for c in chunks)
        hi = max((c.dictionary_page_offset if c.has_dictionary_page
                  else c.data_page_offset) + c.total_compressed_size
                 for c in chunks)
        if any(n and pos < hi and pos + n > lo for pos, n in reads):
            out.add(g)
    return out


def test_decorate_lookup_reads_only_hit_row_groups(tmp_path):
    """The lookup reads the footers once, then per lookup only the row
    groups whose doc_id range holds a wanted id — measured as the bytes
    read through the filesystem, so a reader that scans every row group
    (a pyarrow.dataset ``isin`` filter on pyarrow 16) fails."""
    root = tmp_path / "docs"
    root.mkdir()
    files = {}
    for name, base in (("part-0.parquet", 0), ("part-1.parquet", 1000)):
        ids = list(range(base, base + 400, 2))  # 5 groups of 40 ids
        tbl = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "repo": [f"r{i}" for i in ids], "path": [f"p{i}" for i in ids],
            "commit": [f"c{i}" for i in ids],
            # ~80 KB of incompressible bytes per row group, after the
            # looked-up columns: the reader's speculative 64 KB footer
            # read then stays clear of them
            "sha256": [os.urandom(1024).hex() for _ in ids],
        })
        files[name] = str(root / name)
        pq.write_table(tbl, files[name], row_group_size=40)
    (root / "_SUCCESS").write_bytes(b"")
    (root / ".part-0.parquet.crc").write_bytes(b"not parquet")

    handler = _RecordingFS()
    lookup = _DocLookup(pafs.PyFileSystem(handler), str(root))
    assert len(lookup.lo) == 10
    handler.reads.clear()
    # hits in part-0 group 1 and part-1 group 4; 83 falls inside group 1
    # but is absent; the rest fall between or outside every range
    got = lookup.get([82, 83, 1326, 500, 5000, -1, 82])
    assert got == {82: ("r82", "p82", "c82"), 1326: ("r1326", "p1326", "c1326")}
    touched = {name: _groups_read(path, handler.reads[path])
               for name, path in files.items()}
    assert touched == {"part-0.parquet": {1}, "part-1.parquet": {4}}
    handler.reads.clear()
    assert lookup.get([700]) == {}
    assert not any(handler.reads.values())  # in no range: nothing read


def test_decorate_values_roundtrip_hostile_doc_strings(spark, searcher, tmp_path):
    """repo / path / commit values reach the VALUES literal and come back
    exactly: quotes, backslashes (incl. escape-like text), control
    characters, non-ASCII, empty and NULL; scores stay bitwise equal; the
    decorated schemas keep their names, types and column order."""
    hostile = ["it's", "a\\b", "line1\nline2", "naïve ζ 日本 😀", None, "",
               "\\u0041\\n\\'", "'; DROP TABLE t; --", "X'00'", "\t\r\x00",
               "*/ `x` \"q\""]
    repo, path, commit = hostile, hostile[::-1], hostile[3:] + hostile[:3]
    n = len(hostile)
    docs = tmp_path / "docs"
    docs.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(range(n), pa.int64()),
                             "repo": repo, "path": path, "commit": commit}),
                   str(docs / "part-0.parquet"), row_group_size=4)
    s = copy.copy(searcher)
    s._docs_lookup = _DocLookup(*fsio.filesystem(str(docs)))
    scores = [0.1 + 0.2, 5e-324, 1.7976931348623157e308, 1e-05, 123.456,
              2.0 ** -60, 7.0, 1e16, 0.3, 1.0 / 3.0, 0.0]
    ranked = [(i + 1, n - 1 - i, scores[i]) for i in range(n)]
    want = [r + (repo[r[1]], path[r[1]], commit[r[1]]) for r in ranked]
    single = s._decorate(ranked)
    assert single.schema.simpleString() == (
        "struct<rank:int,doc_id:bigint,score:double,"
        "repo:string,path:string,commit:string>")
    assert [tuple(r) for r in single.collect()] == want
    batch = s._decorate_batch([(7,) + r for r in ranked])
    assert batch.schema.simpleString() == (
        "struct<query_id:bigint,rank:int,doc_id:bigint,score:double,"
        "repo:string,path:string,commit:string>")
    assert [tuple(r) for r in batch.collect()] == [(7,) + w for w in want]
    # the empty results carry the same schemas
    for df in (single, batch):
        empty = s._empty(tuple(df.columns))
        assert empty.schema.simpleString() == df.schema.simpleString()


def test_query_session_disables_aqe_without_touching_caller(spark, searcher):
    """Queries run on a sibling session with AQE off (per-exchange stage
    materialization costs a scheduling round-trip per query,
    BENCH/QUERY_AQE_AB_100k.md); the caller's session keeps AQE for
    builds, and both share one SparkContext (caches stay shared)."""
    assert searcher.spark is not spark
    assert searcher.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert searcher.spark.sparkContext is spark.sparkContext
    # without AQE coalescing, reduce parallelism must match the cluster's
    # cores (one task wave), not the build-sized shuffle.partitions
    assert searcher.spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism)
    assert spark.conf.get("spark.sql.shuffle.partitions") != str(
        spark.sparkContext.defaultParallelism)  # caller conf untouched


def test_bruteforce_uses_arrow_udf_and_takeordered(corpus):
    df = bruteforce_topk(corpus, Query(("rareterm00", "hotterm0"), "OR"))
    plan = _plan(df)
    assert "ArrowEvalPython" in plan  # vectorized tokenizer, not BatchEvalPython
    assert "TakeOrderedAndProject" in plan


def test_exhaustive_path_has_no_per_row_python(searcher):
    """The eager public result is a local relation; audit the lazy
    pre-rank subplan (the part that actually runs on the cluster)."""
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher._exhaustive_scored(searcher.plan_terms(q), q)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "MapInArrow" in plan  # fused decode+explode kernel (r6)
    assert "ArrowEvalPython" not in plan  # former decode-UDF pair is gone
    assert "Generate" not in plan  # former explode(arrays_zip) is gone


def test_pruned_subplan_shape(searcher):
    """Pruned kernel subplan: term-IN pushdown feeds ONE exchange into the
    per-shard applyInPandas kernel — no extra shuffles."""
    q = Query(("rareterm00", "hotterm0"), "OR")
    df = searcher._pruned_scored(searcher.plan_terms(q), q)
    plan = _plan(df)
    assert "In(term" in plan
    assert "FlatMapGroupsInPandas" in plan
    # exactly one exchange node in the tree (the formatted detail section
    # repeats the operator name, so count tree-edge occurrences)
    assert plan.count("+- Exchange") == 1
