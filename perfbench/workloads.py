"""Seeded query streams and the output checks of the three workloads.

Inputs come from ``--seed`` and the pinned synthetic corpus only; the
engine receives nothing but the generated queries. Every result is checked
against values the benchmark computes itself:

* ``Reference`` scores queries exhaustively in numpy from the index files
  (BM25 partials summed rarest-first in float64, like every engine path),
  so a ranked list must match it doc for doc.
* ``CorpusRows`` orders the corpus by the doc-id rule (ascending repo,
  path, commit), so a doc id maps back to its corpus row for the decorate
  and sha256 checks.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from nyu_search_engine_spark.constants import (DOC_SORT_KEYS, LEXICON_DIR,
                                               POSTINGS_DIR, STATS_DIR)
from nyu_search_engine_spark.functions.bm25 import idf_np, tf_part_np
from nyu_search_engine_spark.functions.varbyte import (vb_decode,
                                                       vb_decode_docids_blocked)
from nyu_search_engine_spark.plans.search import Query
from nyu_search_engine_spark.synth import OOV_TERM, RARE_TERMS

K = 10
RARE_DF_FRAC = 0.001   # "rare": every term in at most 0.1% of docs
HOT_DF_FRAC = 0.5      # "hot": at least one term in more than half the docs
# one query_mixed cycle; the loop runs whole cycles, so every run has the
# same class x mode composition and only the seed-drawn terms and order differ
MIXED_CYCLE = ("rare",) * 4 + ("hot",) * 4 + ("oov",) * 2 + ("exhaustive",) * 2
BATCH_POOL_TERMS = 100
SCORE_ULPS = 4         # exhaustive JVM idf may differ by an ulp per term
SHA_SAMPLE = 64


@dataclass(frozen=True)
class Op:
    cls: str       # rare / hot / oov / exhaustive
    query: Query
    method: str    # pruned / exhaustive


class Lexicon:
    """(term -> df, n_slices) of one index, split into df pools."""

    def __init__(self, index_root: str, n_docs: int) -> None:
        tbl = pq.read_table(os.path.join(index_root, LEXICON_DIR),
                            columns=["term", "df", "n_slices"]).sort_by("term")
        self.df = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
        self.n_slices = dict(zip(tbl["term"].to_pylist(),
                                 tbl["n_slices"].to_pylist()))
        rare_max = max(3, int(RARE_DF_FRAC * n_docs))
        self.rare = [t for t, d in self.df.items() if d <= rare_max]
        self.hot = [t for t, d in self.df.items() if d > HOT_DF_FRAC * n_docs]
        self.mid = [t for t, d in self.df.items()
                    if rare_max < d <= HOT_DF_FRAC * n_docs]


def _pick(rng, pool: list[str], n: int, exclude=()) -> list[str]:
    cand = [t for t in pool if t not in exclude]
    return [cand[i] for i in rng.choice(len(cand), size=n, replace=False)]


def _mode(rng) -> str:
    return "AND" if rng.random() < 0.5 else "OR"


def make_op(rng, cls: str, lex: Lexicon, mode: str | None = None) -> Op:
    n = int(rng.integers(2, 5))
    mode = mode or _mode(rng)
    if cls == "rare":
        return Op(cls, Query(tuple(_pick(rng, lex.rare, n)), mode, K), "pruned")
    if cls in ("hot", "exhaustive"):
        first = _pick(rng, lex.hot, 1)
        rest = _pick(rng, lex.hot + lex.mid, n - 1, exclude=first)
        return Op(cls, Query(tuple(first + rest), mode, K),
                  "exhaustive" if cls == "exhaustive" else "pruned")
    oov = OOV_TERM
    while oov in lex.df:
        oov = f"oov{int(rng.integers(10**9))}q"
    rest = _pick(rng, lex.hot + lex.mid, n - 1)
    at = int(rng.integers(0, n))
    return Op(cls, Query(tuple(rest[:at] + [oov] + rest[at:]), mode, K), "pruned")


def mixed_cycle(rng, lex: Lexicon) -> list[Op]:
    """``MIXED_CYCLE`` in seeded order, half of each class AND, half OR."""
    ops = [make_op(rng, cls, lex, ("AND", "OR")[i % 2])
           for i, cls in enumerate(MIXED_CYCLE)]
    return [ops[k] for k in rng.permutation(len(ops))]


def batch_pool(rng, lex: Lexicon) -> list[str]:
    """One term from each of ``BATCH_POOL_TERMS`` equal df strata of the
    mid/hot terms, so every seed's pool has the same df profile."""
    pool = sorted(lex.hot + lex.mid, key=lambda t: (lex.df[t], t))
    strata = np.array_split(np.arange(len(pool)), min(BATCH_POOL_TERMS, len(pool)))
    return [pool[int(rng.choice(s))] for s in strata]


def make_batch(rng, pool: list[str], size: int) -> dict[int, Query]:
    return {i: Query(tuple(_pick(rng, pool, int(rng.integers(2, 5)))),
                     _mode(rng), K)
            for i in range(size)}


def class_mix(ops: list[Op]) -> dict[str, int]:
    out = {c: 0 for c in dict.fromkeys(MIXED_CYCLE)}
    for op in ops:
        out[op.cls] += 1
    return out


# --- exhaustive numpy reference ------------------------------------------------

class Reference:
    """Exhaustive BM25 top-k over one index, computed in the driver.

    Per term, the postings rows of every shard are decoded once into a
    dense per-doc partial-score vector. A query's score is the rarest-first
    float64 sum of those vectors (adding the 0.0 of an absent term leaves a
    sum unchanged), so it reproduces the engine's scores exactly."""

    def __init__(self, index_root: str, lex: Lexicon) -> None:
        self.index_root = index_root
        self.lex = lex
        stats = pq.read_table(os.path.join(index_root, STATS_DIR)).to_pylist()[0]
        self.n_docs, self.avgdl = int(stats["n_docs"]), float(stats["avgdl"])
        self.rows: dict[str, list[dict]] = {}
        self._dense: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def load(self, terms) -> None:
        need = sorted({t for t in terms if t in self.lex.df} - set(self._dense))
        if not need:
            return
        tbl = self._read(need, ["term", "doc_ids_vb", "tfs_vb", "doclens_vb"])
        terms = tbl["term"].to_pylist()
        cols = [tbl[c].to_pylist() for c in ("doc_ids_vb", "tfs_vb", "doclens_vb")]
        for t in need:
            self._dense[t] = (np.zeros(self.n_docs, dtype=np.float64),
                              np.zeros(self.n_docs, dtype=bool))
        for t, ids_vb, tfs_vb, dls_vb in zip(terms, *cols):
            score, present = self._dense[t]
            ids = vb_decode_docids_blocked(ids_vb).astype(np.int64)
            score[ids] = idf_np(self.lex.df[t], self.n_docs) * tf_part_np(
                vb_decode(tfs_vb), vb_decode(dls_vb), self.avgdl)
            present[ids] = True

    def _read(self, terms, columns):
        return ds.dataset(os.path.join(self.index_root, POSTINGS_DIR),
                          format="parquet", partitioning="hive").to_table(
            columns=columns, filter=ds.field("term").isin(terms))

    def slice_rows(self, term: str) -> list[dict]:
        """The term's postings rows, one per shard, as ``TermSlice`` takes them."""
        if term not in self.rows:
            self.rows[term] = self._read(
                [term], ["shard", "term", "max_tfn", "doc_ids_vb", "tfs_vb",
                         "doclens_vb", "blocks"]).to_pylist()
        return self.rows[term]

    def planned(self, q: Query) -> list[str] | None:
        """Kept terms rarest-first; None when the query has no result."""
        terms = list(dict.fromkeys(q.terms))
        kept = [t for t in terms if t in self.lex.df]
        if not kept or (q.mode == "AND" and len(kept) < len(terms)):
            return None
        return [t for _, t in sorted((self.lex.df[t], t) for t in kept)]

    def topk(self, q: Query) -> tuple[np.ndarray, np.ndarray]:
        plan = self.planned(q)
        if plan is None:
            return np.empty(0, np.int64), np.empty(0)
        self.load(plan)
        acc = np.zeros(self.n_docs, dtype=np.float64)
        mask = None
        for t in plan:
            score, present = self._dense[t]
            acc += score
            if mask is None:
                mask = present.copy()
            elif q.mode == "AND":
                mask &= present
            else:
                mask |= present
        cand = np.flatnonzero(mask)
        sc = acc[cand]
        if cand.size > q.k:
            kth = np.partition(sc, cand.size - q.k)[cand.size - q.k]
            keep = sc >= kth
            cand, sc = cand[keep], sc[keep]
        order = np.lexsort((cand, -sc))[: q.k]
        return cand[order].astype(np.int64), sc[order]


def ranked_matches(got: list[tuple[int, int, float]], ref) -> bool:
    """``got`` = [(rank, doc_id, score)]: doc order exact, scores to ulps."""
    ids, scores = ref
    if len(got) != ids.size:
        return False
    got = sorted(got)
    if [r for r, _, _ in got] != list(range(1, ids.size + 1)):
        return False
    if [d for _, d, _ in got] != ids.tolist():
        return False
    s = np.array([x for _, _, x in got], dtype=np.float64)
    return bool(np.all(np.abs(s - scores) <= SCORE_ULPS * np.spacing(
        np.maximum(np.abs(scores), 1.0))))


def check_single(rows, op: Op, ref: Reference, corpus: "CorpusRows") -> bool:
    got = [(int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in rows]
    if not ranked_matches(got, ref.topk(op.query)):
        return False
    return all(corpus.keys(int(r["doc_id"])) == (r["repo"], r["path"], r["commit"])
               for r in rows)


def check_batch(rows, batch: dict[int, Query], ref: Reference) -> bool:
    by_q: dict[int, list] = {qid: [] for qid in batch}
    for r in rows:
        if int(r["query_id"]) not in by_q:
            return False
        by_q[int(r["query_id"])].append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return all(ranked_matches(by_q[qid], ref.topk(q)) for qid, q in batch.items())


# --- corpus in doc-id order -----------------------------------------------------

class CorpusRows:
    """The corpus parquet in doc-id order (dense, ascending sort keys)."""

    def __init__(self, corpus_dir: str) -> None:
        self.dataset = ds.dataset(corpus_dir, format="parquet")
        tbl = self.dataset.to_table(columns=list(DOC_SORT_KEYS))
        tbl = tbl.append_column("row", pa.array(np.arange(tbl.num_rows)))
        tbl = tbl.sort_by([(k, "ascending") for k in DOC_SORT_KEYS])
        self.n = tbl.num_rows
        self._keys = [tbl[k].to_pylist() for k in DOC_SORT_KEYS]
        self.source_row = tbl["row"].to_numpy()

    def keys(self, doc_id: int) -> tuple:
        return tuple(col[doc_id] for col in self._keys)

    def contents(self, doc_ids) -> dict[int, str]:
        """doc_id -> content, streaming the column (the corpus is large)."""
        want = {int(self.source_row[d]): int(d) for d in doc_ids}
        out: dict[int, str] = {}
        base = 0
        for batch in self.dataset.to_batches(columns=["content"]):
            hit = [r for r in want if base <= r < base + batch.num_rows]
            if hit:
                col = batch.column(0)
                for r in hit:
                    out[want[r]] = col[r - base].as_py()
            base += batch.num_rows
        return out


def check_build(metrics: dict, index_root: str, corpus: CorpusRows,
                expected_postings: int, rng) -> list[str]:
    """Failed check names for one built index (empty when it is correct)."""
    bad = []
    if metrics.get("n_docs") != corpus.n:
        bad.append("n_docs")
    if metrics.get("n_postings") != expected_postings:
        bad.append("n_postings")
    lex = pq.read_table(os.path.join(index_root, LEXICON_DIR),
                        columns=["term", "df"])
    dfs = dict(zip(lex["term"].to_pylist(), lex["df"].to_pylist()))
    if any(dfs.get(t) not in (1, 2, 3) for t in RARE_TERMS):
        bad.append("rare_df")
    docs = pq.read_table(os.path.join(index_root, "docs"),
                         columns=["doc_id", "sha256"])
    sha = dict(zip(docs["doc_id"].to_pylist(), docs["sha256"].to_pylist()))
    sample = rng.choice(corpus.n, size=min(SHA_SAMPLE, corpus.n), replace=False)
    for d, content in corpus.contents(sample).items():
        if sha.get(d) != hashlib.sha256(content.encode("utf-8")).hexdigest():
            bad.append("sha256")
            break
    return bad
