"""Index-backed query engine (SURVEY.md §3.2, entry point 2).

Reference trace (query-processor/main, /root/reference/README.md:7):
load lexicon + doc table -> per query: lexicon probe (OOV: AND->empty,
OR->skip) -> open posting lists rarest-first -> DAAT + block-max WAND ->
BM25 size-k heap -> decorate with the doc table.

Spark-first lifecycle:
 1. plan: probe the lexicon with term IN (...) — Catalyst pushes the IN
    into the Parquet scan; the collected slice (k rows) rides the closure.
 2. prune: postings scan with term IN (...) — predicate pushdown + files
    sorted by (shard, term) give row-group skipping; only the query terms'
    bytes are read (the Spark analogue of lexicon-directed seeks).
 3a. exhaustive path: one mapInArrow decode+explode -> column-expression
     BM25 -> hash agg with a deterministic rarest-first fold ->
     TakeOrdered(k).
 3b. pruned path: groupBy(shard).applyInPandas(DAAT/BMW kernel) -> per-
     shard top-k -> global TakeOrdered(k) over n_shards*k candidate rows.
 3c. rank: the terminal TakeOrderedAndProject merges per-partition numpy
     heaps on the DRIVER (the reference's size-k heap merge); rank is a
     driver enumeration over the <= k collected rows — queries execute
     EAGERLY inside search()/search_batch (one Spark stage less than the
     former lazy Window form; see the search() docstring).
 4. decorate: on the DRIVER, no Spark job. A (min, max) doc_id index of
    the docs Parquet row groups is read from the file footers once (first
    decorate); per query, np.searchsorted picks the row groups that hold
    a hit, pyarrow reads only those (ParquetFile.read_row_groups, through
    fsio's filesystem, so URI roots work) and keeps the hit rows. The
    ranked rows and their doc columns become one VALUES-literal
    LocalRelation, whose collect() is driver-only. The docs table is
    written in doc_id-range order, so a hit costs <= 1 row group read.

Paths 3a and 3b are rank-identical by construction (pytest-enforced).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DOCS_DIR
from ..functions.bm25 import idf_np, score_col
from ..functions.varbyte import decode_postings_map
from ..operators.daat import TermSlice, shard_topk_and, shard_topk_or
from ..sources import fsio, index_io
from .search import Query


# Collect the (term, df) lexicon into the driver when the vocabulary is
# at most this many terms: the per-query lexicon probe then costs a
# binary search instead of a Spark job, halving the jobs on the
# single-query path. The cache is two parallel term-sorted Arrow/numpy
# arrays (NOT a Python dict — 4M str->int dict entries cost 400-700 MB
# of object headers; the arrays cost len(term)+4B offsets+8B df per
# entry, ~25 B at code-identifier lengths -> ~100 MB at 4M terms, and
# the actual bytes are measured and enforced by
# LEXICON_DRIVER_CACHE_MAX_BYTES below). A 10^12-file code corpus's
# identifier vocabulary can exceed this — the distributed probe stays as
# the fallback, chosen automatically from the lexicon row count.
LEXICON_DRIVER_CACHE_MAX_TERMS = 4_000_000
# hard byte ceiling on the collected arrays (term count is a proxy; the
# measured Arrow buffer size is the truth): above this the cache is
# dropped and the distributed probe is used
LEXICON_DRIVER_CACHE_MAX_BYTES = 256 * 1024 * 1024


def _str_lit(v: str | None) -> str:
    # UTF-8 hex BINARY literal cast to STRING: exact for any text, with no
    # quote or backslash escaping for the SQL parser to interpret
    if v is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"


# result column -> (SQL type, VALUES literal of one value); repr(float)
# round-trips exactly through Spark's double literal parser, so scores
# stay bitwise identical
_COLS = {
    "query_id": ("BIGINT", lambda v: f"{v}L"),
    "rank": ("INT", str),
    "doc_id": ("BIGINT", lambda v: f"{v}L"),
    "score": ("DOUBLE", lambda v: f"CAST({float(v)!r} AS DOUBLE)"),
    "repo": ("STRING", _str_lit),
    "path": ("STRING", _str_lit),
    "commit": ("STRING", _str_lit),
}
RANKED = ("rank", "doc_id", "score")
BATCH = ("query_id",) + RANKED
DOC_COLS = ("repo", "path", "commit")


class _DocLookup:
    """doc_id -> (repo, path, commit) point lookup over the docs Parquet
    table, on the driver.

    Built once from the file footers: one (lo, hi) doc_id entry per row
    group (a group without statistics spans every id), sorted by lo, plus
    the running max of hi, so the groups holding an id are found by
    ``np.searchsorted`` and a walk down that stops once no earlier group
    reaches the id — one step per id when ranges are disjoint, as
    ``build_index``'s doc_id-range-ordered write makes them. A lookup
    reads only those row groups (``ParquetFile.read_row_groups``) and
    keeps the hit rows with ``pc.is_in``: at most one row group per
    distinct id, never the table. The index costs 24 B per row group.
    (``pyarrow.dataset`` with an ``isin`` filter does not prune row
    groups on pyarrow 16, and an OR of equalities re-reads every footer
    per query.)"""

    COLUMNS = ("doc_id",) + DOC_COLS

    def __init__(self, fs, root: str) -> None:
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        self.fs = fs
        infos = fs.get_file_info(pafs.FileSelector(root))
        # the files Spark reads: hidden (_SUCCESS, .crc) ones are skipped
        self.files = sorted(i.path for i in infos
                            if i.type == pafs.FileType.File
                            and not i.base_name.startswith(("_", ".")))
        lo, hi, file_no, group_no = [], [], [], []
        for f, path in enumerate(self.files):
            with fs.open_input_file(path) as fh:
                md = pq.ParquetFile(fh).metadata
            col = md.schema.names.index("doc_id")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(col).statistics
                has = st is not None and st.has_min_max
                lo.append(st.min if has else np.iinfo(np.int64).min)
                hi.append(st.max if has else np.iinfo(np.int64).max)
                file_no.append(f)
                group_no.append(g)
        order = np.argsort(np.asarray(lo, dtype=np.int64), kind="stable")
        self.lo = np.asarray(lo, dtype=np.int64)[order]
        self.hi = np.asarray(hi, dtype=np.int64)[order]
        self.hi_max = np.maximum.accumulate(self.hi) if len(order) else self.hi
        self.file_no = np.asarray(file_no, dtype=np.int64)[order]
        self.group_no = np.asarray(group_no, dtype=np.int64)[order]

    def row_groups(self, ids: np.ndarray) -> list[int]:
        """Sorted index entries whose [lo, hi] holds at least one id."""
        out = set()
        starts = np.searchsorted(self.lo, ids, side="right") - 1
        for x, j in zip(ids.tolist(), starts.tolist()):
            while j >= 0 and self.hi_max[j] >= x:
                if self.hi[j] >= x:
                    out.add(j)
                j -= 1
        return sorted(out)

    def get(self, ids) -> dict[int, tuple]:
        """{doc_id: (repo, path, commit)} of the ids present in the table."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        want = np.unique(np.asarray(list(ids), dtype=np.int64))
        by_file: dict[int, list[int]] = defaultdict(list)
        for e in self.row_groups(want):
            by_file[int(self.file_no[e])].append(int(self.group_no[e]))
        value_set = pa.array(want)
        out: dict[int, tuple] = {}
        for f, groups in by_file.items():
            with self.fs.open_input_file(self.files[f]) as fh:
                tbl = pq.ParquetFile(fh).read_row_groups(
                    groups, columns=list(self.COLUMNS))
            tbl = tbl.filter(pc.is_in(tbl["doc_id"], value_set=value_set))
            for doc_id, *keys in zip(*(tbl[c].to_pylist() for c in self.COLUMNS)):
                out.setdefault(doc_id, tuple(keys))
        return out


class _DriverLexicon:
    """Driver-side (term -> df) probe over two parallel sorted arrays.

    ``terms`` is a term-sorted pyarrow string array (UTF-8 byte order ==
    Python str code-point order, so bytewise binary search is exact);
    ``dfs`` the matching int64 numpy array. The probe binary-searches the
    raw Arrow offsets/data buffers through numpy views — zero pyarrow
    scalar (.as_py) materializations, just one small bytes slice per
    comparison. ~(avg_term_len + 12) bytes per entry.
    """

    __slots__ = ("terms", "dfs", "nbytes", "_offsets", "_data")

    def __init__(self, terms, dfs, nbytes: int) -> None:
        import pyarrow as pa

        self.terms = terms
        self.dfs = dfs
        self.nbytes = nbytes
        odt = np.int64 if pa.types.is_large_string(terms.type) else np.int32
        bufs = terms.buffers()
        off0 = terms.offset  # slices share buffers at an element offset
        self._offsets = np.frombuffer(bufs[1], dtype=odt)[
            off0:off0 + len(terms) + 1]
        self._data = np.frombuffer(bufs[2], dtype=np.uint8)

    def get(self, term: str) -> int | None:
        tb = term.encode("utf-8")
        off, data = self._offsets, self._data
        lo, hi = 0, len(self.terms)
        while lo < hi:
            mid = (lo + hi) // 2
            if data[off[mid]:off[mid + 1]].tobytes() < tb:
                lo = mid + 1
            else:
                hi = mid
        if lo < len(self.terms) and data[off[lo]:off[lo + 1]].tobytes() == tb:
            return int(self.dfs[lo])
        return None


class IndexSearcher:
    """Loads an index built by ``build_index`` and answers queries."""

    def __init__(self, spark: SparkSession, index_root: str,
                 lexicon_driver_cache: bool | None = None,
                 query_aqe: bool = False) -> None:
        # Query plans run on a SIBLING session (shared SparkContext and
        # block-manager caches, independent SQLConf) with AQE off: a
        # single query's shuffles are n_shards-row tiny, and AQE's
        # per-exchange query-stage materialization adds a scheduling
        # round-trip per exchange — measured +25-40% single-query
        # latency at 100k (BENCH/QUERY_AQE_AB_100k.md). The BUILD keeps
        # AQE (coalescing/skew handling matter at corpus scale); the
        # caller's session conf is never touched. query_aqe=True keeps
        # queries on the caller's session (A/B arm).
        if not query_aqe:
            self.spark = spark.newSession()
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            # Without AQE's partition coalescing, a query stage runs
            # shuffle.partitions tasks — at 32 partitions on a 2-core
            # cluster that is 16 scheduling waves of n_shards-row tasks
            # (measured: narrow-level fixture latency 1.43 -> 2.09 s,
            # BENCH/QUERY_SCALING_2_to_8_500k_r5aqe.md). Size the query
            # session's reduce parallelism to the cluster's cores: same
            # total kernel work, one wave. Kernel parallelism is
            # per-shard either way (applyInPandas groups by shard inside
            # the task); cores > n_shards just leaves empty partitions.
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, spark.sparkContext.defaultParallelism)),
            )
        else:
            self.spark = spark
        self.index_root = index_root
        # all index frames bind to self.spark — a DataFrame executes
        # under the conf of the session that created it
        self.postings = index_io.read_postings(self.spark, index_root)
        # the lexicon is hot (probed per query): keep it cluster-cached
        self.lexicon = index_io.read_lexicon(self.spark, index_root).persist()
        self.docs = index_io.read_docs(self.spark, index_root)
        # built on the first decorate, so opening a searcher reads no footer
        self._docs_lookup: _DocLookup | None = None
        self._empties: dict[tuple[str, ...], DataFrame] = {}
        stats = index_io.read_stats(self.spark, index_root)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        if lexicon_driver_cache is None:
            lexicon_driver_cache = (
                self.lexicon.count() <= LEXICON_DRIVER_CACHE_MAX_TERMS
            )
        self._driver_lex: _DriverLexicon | None = None
        if lexicon_driver_cache:
            # Arrow collect keeps the strings in two flat buffers (offsets
            # + bytes) instead of 4M boxed Python objects
            import pyarrow.compute as pc

            tbl = self.lexicon.select("term", "df").toArrow()
            order = pc.sort_indices(tbl["term"])
            terms = tbl["term"].take(order).combine_chunks()
            dfs = tbl["df"].take(order).combine_chunks().to_numpy()
            nbytes = terms.nbytes + dfs.nbytes
            if nbytes <= LEXICON_DRIVER_CACHE_MAX_BYTES:
                self._driver_lex = _DriverLexicon(terms, dfs, nbytes)

    # --- planning (P4 lexicon probe + T4 rarest-first) -----------------------

    def _probe_df(self, terms: list[str]) -> dict[str, int]:
        """term -> global df for the given terms; OOV terms absent."""
        if self._driver_lex is not None:
            probed = {t: self._driver_lex.get(t) for t in terms}
            return {t: df for t, df in probed.items() if df is not None}
        rows = (
            self.lexicon.filter(F.col("term").isin(list(terms)))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def plan_terms(self, query: Query) -> list[tuple[str, int, float]]:
        """[(term, global_df, idf)] rarest-first; OOV terms dropped."""
        terms = list(dict.fromkeys(query.terms))
        if not terms:
            return []
        df_by_term = self._probe_df(terms)
        meta = sorted(df_by_term.items(), key=lambda x: (x[1], x[0]))
        return [(t, df, idf_np(df, self.n_docs)) for t, df in meta]

    # --- public API -----------------------------------------------------------

    def search(self, query: Query, method: str = "pruned",
               decorate: bool = True, and_bounds: bool = True) -> DataFrame:
        """Answer one query; returns (rank, doc_id, score[, doc columns]).

        EAGER: the distributed kernel job runs inside this call (like the
        reference's synchronous query processor) and the returned
        DataFrame is recreated from the <= k merged rows — the driver-side
        heap merge + rank costs one Spark stage less per query than the
        lazy Window form, and the driver-side decorate lookup needs the
        ids up front anyway. The result composes like any DataFrame, but
        ``.explain()`` shows a local relation, not the kernel subplan, and
        its ``collect()`` runs no Spark job.

        ``and_bounds=False`` disables the conjunctive kernel's
        block-max theta pruning (A/B arm — rank-identical results)."""
        planned = self.plan_terms(query)
        n_query_terms = len(set(query.terms))
        if not planned or (query.mode == "AND" and len(planned) < n_query_terms):
            return self._empty(RANKED + DOC_COLS if decorate else RANKED)
        if method == "exhaustive":
            ranked = self._exhaustive(planned, query)
        elif method == "pruned":
            ranked = self._pruned(planned, query, and_bounds=and_bounds)
        else:
            raise ValueError(f"unknown method {method!r}")
        return self._decorate(ranked) if decorate else self._local(RANKED, ranked)

    # --- path 3a: exhaustive decode + hash agg --------------------------------

    def _exhaustive(self, planned, query: Query) -> list[tuple]:
        return self._rank(self._exhaustive_scored(planned, query), query.k)

    def _exhaustive_scored(self, planned, query: Query) -> DataFrame:
        """The lazy pre-rank (doc_id, score) frame — exposed separately so
        plan audits (tests, plans/r06) can explain the kernel subplan,
        which the eager ranked result no longer shows."""
        terms = [t for t, _, _ in planned]
        # r6: one mapInArrow decodes AND explodes (term, doc_id, tf,
        # doclen) posting rows — the former two list-returning pandas
        # UDFs + explode(arrays_zip(...)) crossed the Arrow boundary
        # twice per payload and built Python lists per posting
        expl = self.postings.filter(F.col("term").isin(terms)).select(
            "term", "doc_ids_vb", "tfs_vb", "doclens_vb"
        ).mapInArrow(
            decode_postings_map(),
            "term string, doc_id long, tf long, doclen long",
        )
        # r6: per-term df attached as a LITERAL map lookup — the values
        # are driver-known from the lexicon probe, and the former
        # broadcast join of the |query-terms|-row meta frame paid a
        # createDataFrame + BroadcastExchange build job per query
        # (~0.2 s measured). Same df values -> bitwise-identical scores.
        df_map = F.create_map(
            *[x for t, d, _ in planned
              for x in (F.lit(t), F.lit(int(d)).cast("long"))]
        )
        scored = expl.withColumn("df", df_map[F.col("term")]).withColumn(
            "partial",
            score_col(F.col("tf"), F.col("doclen"), F.col("df"),
                      self.n_docs, self.avgdl),
        )
        per_doc = scored.groupBy("doc_id").agg(
            F.count("*").alias("n_terms"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "term", "partial"))),
                    lambda x: x["partial"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
        if query.mode == "AND":
            per_doc = per_doc.filter(F.col("n_terms") == len(planned))
        return per_doc.select("doc_id", "score")

    # --- path 3b: per-shard DAAT/BMW kernel ------------------------------------

    def _pruned(self, planned, query: Query,
                and_bounds: bool = True) -> list[tuple]:
        return self._rank(
            self._pruned_scored(planned, query, and_bounds), query.k
        )

    def _pruned_scored(self, planned, query: Query,
                       and_bounds: bool = True) -> DataFrame:
        """Lazy pre-rank per-shard candidate frame (see _exhaustive_scored)."""
        terms = [t for t, _, _ in planned]
        idf_by_term = {t: idf for t, _, idf in planned}
        order = [t for t, _, _ in planned]  # already rarest-first
        mode, k, avgdl = query.mode, query.k, self.avgdl
        n_terms = len(order)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            present = {r["term"]: r for _, r in pdf.iterrows()}
            if mode == "AND" and len(present) < n_terms:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            slices = [
                (t, idf_by_term[t], TermSlice(present[t]))
                for t in order
                if t in present
            ]
            if not slices:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            if mode == "AND":
                ids, scores = shard_topk_and(slices, k, avgdl,
                                             use_bounds=and_bounds)
            else:
                ids, scores = shard_topk_or(slices, k, avgdl)
            return pd.DataFrame({"doc_id": ids.astype("int64"),
                                 "score": scores.astype("float64")})

        return (
            self.postings.filter(F.col("term").isin(terms))
            .select("shard", "term", "max_tfn",
                    "doc_ids_vb", "tfs_vb", "doclens_vb", "blocks")
            .groupBy("shard")
            .applyInPandas(kernel, "doc_id long, score double")
        )

    # --- batched multi-query search (SURVEY §2.5/T3 batch form) ---------------

    def search_batch(
        self,
        queries: dict[int, Query] | list[tuple[int, Query]],
        decorate: bool = False,
        max_terms_per_chunk: int | str | None = None,
    ) -> DataFrame:
        """Answer MANY queries in ONE postings scan -> (query_id, rank,
        doc_id, score).

        EAGER like ``search``: each chunk's scan+kernel job runs inside
        this call and per-query ranks are merged driver-side over the
        bounded (n_queries x n_shards x k) candidate rows.

        Amortizes the per-query Spark job floor: all query terms ride one
        broadcast lexicon probe and one term-IN-pushdown scan; each shard
        kernel runs every query against its co-located slices (decoded
        blocks are shared across queries via the TermSlice cache), then a
        per-query window top-k merges n_shards*k candidate rows. Scores
        are bitwise identical to the single-query pruned path (same
        rarest-first slice order, same kernels).

        ``max_terms_per_chunk`` bounds the DISTINCT terms any single
        scan+kernel job carries: a giant batch whose term set covers most
        of the vocabulary makes each shard kernel decode most of the
        index in one working set; chunking (queries greedily grouped by
        term overlap, one scan per chunk) keeps the per-kernel decoded
        set bounded at the cost of more jobs. Per-query results are
        identical either way (chunks partition the QUERIES, never one
        query's terms).

        ``"auto"`` resolves the bound from the batch itself:
        ``max(512, union_size // 3)`` — the measured sweet spot of the
        U-curve in BENCH/BATCH_CHUNKING_500k.md (512-term chunks ran
        1.21x over one scan at a 1,349-term union; any bound >= ~1/4 of
        the union measured within 7% of the best, while over-fine
        chunking lost to per-chunk job floors). A batch whose union is
        already <= 512 terms stays one scan.
        """
        items = list(queries.items()) if isinstance(queries, dict) else list(queries)
        all_terms = sorted({t for _, q in items for t in q.terms})
        cols = BATCH + DOC_COLS if decorate else BATCH
        if not items or not all_terms:
            return self._empty(cols)
        df_by_term = self._probe_df(all_terms)
        # per-query plan: rarest-first kept terms; OOV => AND empty, OR skip
        qplans: dict[int, tuple[str, int, list[tuple[str, float]]]] = {}
        for qid, q in items:
            terms = list(dict.fromkeys(q.terms))
            kept = [t for t in terms if t in df_by_term]
            if not kept or (q.mode == "AND" and len(kept) < len(terms)):
                continue
            meta = sorted((df_by_term[t], t) for t in kept)
            qplans[int(qid)] = (
                q.mode, q.k, [(t, idf_np(d, self.n_docs)) for d, t in meta]
            )
        if not qplans:
            return self._empty(cols)
        if max_terms_per_chunk == "auto":
            union = len({t for _, _, tl in qplans.values() for t, _ in tl})
            max_terms_per_chunk = max(512, union // 3)
        chunks = self._chunk_qplans(qplans, max_terms_per_chunk)
        # (query_id, rank) order
        ranked = sorted(r for ch in chunks for r in self._batch_topk(ch))
        return (self._decorate_batch(ranked) if decorate
                else self._local(BATCH, ranked))

    @staticmethod
    def _chunk_qplans(
        qplans: dict[int, tuple], max_terms: int | None
    ) -> list[dict[int, tuple]]:
        """Greedy term-overlap grouping: queries sorted by term signature
        (so near-duplicate term sets land adjacent), packed until the
        chunk's distinct-term union would exceed ``max_terms``."""
        if not max_terms:
            return [qplans]
        ordered = sorted(
            qplans.items(),
            key=lambda kv: tuple(sorted(t for t, _ in kv[1][2])),
        )
        chunks: list[dict[int, tuple]] = []
        cur: dict[int, tuple] = {}
        cur_terms: set[str] = set()
        for qid, plan in ordered:
            terms = {t for t, _ in plan[2]}
            if cur and len(cur_terms | terms) > max_terms:
                chunks.append(cur)
                cur, cur_terms = {}, set()
            cur[qid] = plan
            cur_terms |= terms
        if cur:
            chunks.append(cur)
        return chunks

    def _batch_topk(
        self, qplans: dict[int, tuple[str, int, list[tuple[str, float]]]]
    ) -> list[tuple]:
        """One scan + per-shard multi-query kernel, then per-query rank
        merged driver-side over the bounded candidates: a list of
        (query_id, rank, doc_id, score) rows."""
        cand = self._batch_cand(qplans)
        # r6: per-query rank assigned driver-side over the collected
        # candidates — bounded at n_queries_in_chunk * n_shards * k rows
        # (each shard kernel already top-k's per query). Replaces a
        # Window(query_id) + broadcast-join(k) tail: one exchange, a
        # window stage and a createDataFrame round-trip per chunk gone.
        rows = cand.collect()
        by_qid: dict[int, list] = {}
        for r in rows:
            by_qid.setdefault(r["query_id"], []).append(r)
        out = []
        for qid, (_, k, _) in qplans.items():
            got = by_qid.get(qid)
            if not got:
                continue
            got.sort(key=lambda r: (-r["score"], r["doc_id"]))
            out.extend((int(qid), i + 1, int(r["doc_id"]), float(r["score"]))
                       for i, r in enumerate(got[:k]))
        return out

    def _batch_cand(
        self, qplans: dict[int, tuple[str, int, list[tuple[str, float]]]]
    ) -> DataFrame:
        """Lazy multi-query per-shard candidate frame (plan-audit seam)."""
        scan_terms = sorted({t for _, _, tl in qplans.values() for t, _ in tl})
        avgdl = self.avgdl

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            present = {r["term"]: r for _, r in pdf.iterrows()}
            cache: dict[str, TermSlice] = {}
            out = []
            for qid, (mode, k, tl) in qplans.items():
                if mode == "AND" and any(t not in present for t, _ in tl):
                    continue
                sl = []
                for t, idf in tl:
                    if t not in present:
                        continue
                    if t not in cache:
                        cache[t] = TermSlice(present[t])
                    sl.append((t, idf, cache[t]))
                if not sl:
                    continue
                fn = shard_topk_and if mode == "AND" else shard_topk_or
                ids, scores = fn(sl, k, avgdl)
                if ids.size:
                    out.append((np.full(ids.size, qid, dtype=np.int64),
                                ids.astype(np.int64),
                                scores.astype(np.float64)))
            if not out:
                return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                     "doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            return pd.DataFrame({
                "query_id": np.concatenate([o[0] for o in out]),
                "doc_id": np.concatenate([o[1] for o in out]),
                "score": np.concatenate([o[2] for o in out]),
            })

        return (
            self.postings.filter(F.col("term").isin(scan_terms))
            .select("shard", "term", "max_tfn",
                    "doc_ids_vb", "tfs_vb", "doclens_vb", "blocks")
            .groupBy("shard")
            .applyInPandas(kernel, "query_id long, doc_id long, score double")
        )

    # --- shared tail ------------------------------------------------------------

    def _rank(self, scored: DataFrame, k: int) -> list[tuple]:
        """Global top-k + rank: a list of (rank, doc_id, score) rows. r6:
        ``orderBy().limit(k)`` executes as a TERMINAL TakeOrderedAndProject
        (per-partition numpy heaps merged on the driver — the reference's
        size-k heap merge), and the rank is attached driver-side over the
        <= k collected rows. The former lazy form stacked Window on top of
        the limit, which re-planned TakeOrdered into Sort +
        single-partition Exchange + WindowExec — one extra stage (and the
        WindowExec empty-partition-spec warning) per query, measured
        ~0.15-0.25 s of the ~0.5 s single-query latency. Executes eagerly
        (see search())."""
        rows = scored.orderBy(F.desc("score"), "doc_id").limit(k).collect()
        return [(i + 1, int(r["doc_id"]), float(r["score"]))
                for i, r in enumerate(rows)]

    def _local(self, cols: tuple[str, ...], rows: list[tuple]) -> DataFrame:
        """Bounded result rows -> one VALUES-literal LocalRelation.

        ``collect()`` on it is driver-only (no job) and building it costs
        ~5 ms; ``createDataFrame(list)`` parallelizes an RDD whose collect
        is a full job (~0.3 s measured)."""
        if not rows:
            return self._empty(cols)
        lits = [_COLS[c][1] for c in cols]
        vals = ", ".join(
            "(" + ",".join(lit(v) for lit, v in zip(lits, r)) + ")"
            for r in rows
        )
        names = ", ".join(f"`{c}`" for c in cols)
        return self.spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")

    def _empty(self, cols: tuple[str, ...]) -> DataFrame:
        """The empty result with these columns, built once per column set:
        a ``LIMIT 0`` local relation, whose collect() runs no job
        (``createDataFrame([], schema)``'s does: ~0.5 s measured)."""
        if cols not in self._empties:
            sel = ", ".join(f"CAST(NULL AS {_COLS[c][0]}) AS `{c}`" for c in cols)
            self._empties[cols] = self.spark.sql(f"SELECT {sel} LIMIT 0")
        return self._empties[cols]

    def _decorate(self, ranked: list[tuple]) -> DataFrame:
        return self._local(RANKED + DOC_COLS, self._with_docs(ranked, 1))

    def _decorate_batch(self, ranked: list[tuple]) -> DataFrame:
        return self._local(BATCH + DOC_COLS, self._with_docs(ranked, 2))

    def _with_docs(self, rows: list[tuple], at: int) -> list[tuple]:
        """Each row + the doc columns of its doc_id (``row[at]``), looked
        up on the driver (``_DocLookup``); a doc_id missing from the docs
        table drops its row, as the former inner join did."""
        if self._docs_lookup is None:
            self._docs_lookup = _DocLookup(*fsio.filesystem(
                index_io.table_path(self.index_root, DOCS_DIR)))
        docs = self._docs_lookup.get(r[at] for r in rows)
        return [r + docs[r[at]] for r in rows if r[at] in docs]
