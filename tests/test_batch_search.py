"""Batched multi-query search (SURVEY §2.5/T3 batch form): one postings
scan answers every query; results must be rank- AND score-identical to the
single-query pruned path (same kernels, same rarest-first float order)."""

from __future__ import annotations

import pytest

from nyu_search_engine_spark.plans.search import Query

BATCH = {
    1: Query(("rareterm00", "rareterm01"), "AND"),
    2: Query(("rareterm02", "hotterm0"), "AND"),
    3: Query(("hotterm0", "hotterm1", "hotterm2"), "AND", 5),
    4: Query(("rareterm00", "oovterm"), "AND"),        # OOV -> no rows
    5: Query(("hotterm0", "rareterm07"), "OR"),
    6: Query(("hotterm0", "hotterm1", "hotterm2", "hotterm3"), "OR", 20),
    7: Query(("def", "return", "class"), "OR"),        # engineered ties
    8: Query(("oovterm",), "OR"),                      # all-OOV -> no rows
}


def _single(searcher, q):
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in searcher.search(q, "pruned", decorate=False).collect()
    ]


def test_batch_equals_single_query(searcher):
    got = {}
    for r in searcher.search_batch(BATCH).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid in got:
        got[qid].sort()
    for qid, q in BATCH.items():
        assert got.get(qid, []) == _single(searcher, q), f"query {qid}"


def test_batch_decorated_schema(searcher):
    out = searcher.search_batch({1: BATCH[5]}, decorate=True)
    assert out.columns == [
        "query_id", "rank", "doc_id", "score", "repo", "path", "commit"
    ]
    rows = out.collect()
    assert len(rows) == len(_single(searcher, BATCH[5]))


def test_batch_decorate_equals_single_decorate(searcher):
    """Batch and single decorate share one driver lookup: each query's
    decorated rows equal the single-query ones, ordered by (query_id,
    rank)."""
    rows = [tuple(r) for r in searcher.search_batch(BATCH, decorate=True).collect()]
    assert rows == sorted(rows, key=lambda r: (r[0], r[1]))
    for qid, q in BATCH.items():
        single = [tuple(r) for r in searcher.search(q, "pruned").collect()]
        assert [r[1:] for r in rows if r[0] == qid] == single, f"query {qid}"


def test_batch_empty_inputs(searcher):
    assert searcher.search_batch({}).count() == 0
    assert searcher.search_batch({1: Query(("oovterm",), "AND")}).count() == 0


def test_batch_chunked_equals_unchunked(searcher):
    """max_terms_per_chunk partitions the QUERIES across several scans;
    per-query results must be identical to the single-scan batch."""
    base = {qid: sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in searcher.search_batch(BATCH).collect()
        if r["query_id"] == qid
    ) for qid in BATCH}
    for max_terms in (2, 3, 100):
        got = {qid: [] for qid in BATCH}
        for r in searcher.search_batch(
                BATCH, max_terms_per_chunk=max_terms).collect():
            got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        for qid in got:
            assert sorted(got[qid]) == base[qid], (max_terms, qid)


def test_chunk_qplans_bounds_and_covers():
    from nyu_search_engine_spark.plans.search_index import IndexSearcher

    qplans = {
        1: ("OR", 10, [("a", 1.0), ("b", 1.0)]),
        2: ("OR", 10, [("a", 1.0), ("b", 1.0)]),   # identical sig -> same chunk
        3: ("AND", 10, [("c", 1.0), ("d", 1.0), ("e", 1.0)]),
        4: ("OR", 10, [("f", 1.0)]),
    }
    chunks = IndexSearcher._chunk_qplans(qplans, 3)
    assert sorted(q for ch in chunks for q in ch) == [1, 2, 3, 4]
    for ch in chunks:
        terms = {t for _, _, tl in ch.values() for t, _ in tl}
        # a single query may exceed the bound alone; multi-query chunks may not
        assert len(terms) <= 3 or len(ch) == 1
    # no limit -> one chunk
    assert IndexSearcher._chunk_qplans(qplans, None) == [qplans]


def test_and_bounds_off_rank_identical(searcher):
    for q in (BATCH[2], BATCH[3]):
        on = searcher.search(q, "pruned", decorate=False).collect()
        off = searcher.search(q, "pruned", decorate=False,
                              and_bounds=False).collect()
        assert [tuple(r) for r in on] == [tuple(r) for r in off]


def test_batch_auto_chunk_equals_unchunked(searcher):
    """max_terms_per_chunk="auto" resolves a bound from the batch's own
    term union (max(512, union // 3) — the measured sweet spot in
    BENCH/BATCH_CHUNKING_500k.md) and must return identical per-query
    results. At this fixture's tiny union the auto bound exceeds the
    union, so it must also degenerate to exactly ONE chunk."""
    base = {qid: sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in searcher.search_batch(BATCH).collect()
        if r["query_id"] == qid
    ) for qid in BATCH}
    got = {qid: [] for qid in BATCH}
    for r in searcher.search_batch(
            BATCH, max_terms_per_chunk="auto").collect():
        got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        assert sorted(got[qid]) == base[qid], qid

    # resolution rule itself (no Spark needed)
    from nyu_search_engine_spark.plans.search_index import IndexSearcher
    qplans = {i: ("OR", 10, [(f"t{j}", 1.0) for j in range(i, i + 4)])
              for i in range(2000)}
    union = len({t for _, _, tl in qplans.values() for t, _ in tl})
    bound = max(512, union // 3)
    chunks = IndexSearcher._chunk_qplans(qplans, bound)
    assert len(chunks) > 1  # a big union genuinely engages chunking
    for ch in chunks:
        terms = {t for _, _, tl in ch.values() for t, _ in tl}
        assert len(terms) <= bound or len(ch) == 1
