"""Rank-identity contract: Spark engine == single-node oracle (BASELINE.json
north_rule) — top-k docids AND BM25 scores, tie-break (score DESC, docid ASC).
"""

from __future__ import annotations

import math

import pytest

from text_retrieval_and_search_engines_spark.functions.text import tokenize
from text_retrieval_and_search_engines_spark.plans.query import (
    SearchParams, search, search_fast, search_rm3)
from text_retrieval_and_search_engines_spark.sources.pages import synth_queries

QUERIES = None  # filled lazily from fixture vocab


def _queries_df(spark, n=12):
    pdf = synth_queries(n, seed=42, vocab_size=500)
    return pdf, spark.createDataFrame(pdf)


def _collect_run(df):
    rows = df.select("qid", "docid", "score", "rank").collect()
    out = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    return out


def _assert_rank_identical(got: dict, oracle_runs: dict, k: int):
    assert set(got) == {q for q, hits in oracle_runs.items() if hits}
    for qid, expected in oracle_runs.items():
        exp = expected[:k]
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in exp], f"qid={qid} docids differ"
        for (gd, gs), (ed, es) in zip(g, exp):
            assert math.isclose(gs, es, rel_tol=0, abs_tol=1e-12), (
                f"qid={qid} docid={gd}: {gs} != {es}")


@pytest.mark.parametrize("k", [10, 50])
def test_bm25_rank_identical(spark, tiny_index, k):
    reader, oracle, catalog, en = tiny_index
    qpdf, qdf = _queries_df(spark)
    got = _collect_run(search(reader, qdf, SearchParams(k=k)))
    expected = {row.qid: oracle.search(row.text, k=k)
                for row in qpdf.itertuples()}
    _assert_rank_identical(got, expected, k)


def test_bm25_other_params(spark, tiny_index):
    reader, oracle, catalog, en = tiny_index
    qpdf, qdf = _queries_df(spark, n=6)
    p = SearchParams(k1=1.2, b=0.75, k=20)
    got = _collect_run(search(reader, qdf, p))
    expected = {row.qid: oracle.search(row.text, k=20, k1=1.2, b=0.75)
                for row in qpdf.itertuples()}
    _assert_rank_identical(got, expected, 20)


def test_bm25_conjunctive(spark, tiny_index):
    reader, oracle, catalog, en = tiny_index
    qpdf, qdf = _queries_df(spark, n=8)
    p = SearchParams(k=30, mode="and")
    got = _collect_run(search(reader, qdf, p))
    expected = {row.qid: oracle.search(row.text, k=30, mode="and")
                for row in qpdf.itertuples()}
    for qid, exp in expected.items():
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in exp], qid
        for (gd, gs), (_, es) in zip(g, exp):
            assert math.isclose(gs, es, rel_tol=0, abs_tol=1e-12)


def test_rm3_rank_identical(spark, tiny_index):
    reader, oracle, catalog, en = tiny_index
    qpdf, qdf = _queries_df(spark, n=5)
    docs = catalog.read_table(spark, "docs")
    got = _collect_run(search_rm3(reader, qdf, docs, params=SearchParams(k=20)))
    expected = {row.qid: oracle.search_rm3(row.text, k=20)
                for row in qpdf.itertuples()}
    _assert_rank_identical(got, expected, 20)


def test_docid_assignment_is_url_rank(spark, tiny_index):
    reader, oracle, catalog, en = tiny_index
    docmap = {r["docid"]: r["url"]
              for r in catalog.read_table(spark, "docmap").collect()}
    urls_sorted = sorted(en["url"])
    assert [docmap[i] for i in range(len(urls_sorted))] == urls_sorted


def test_stats_match_oracle(spark, tiny_index):
    reader, oracle, catalog, en = tiny_index
    assert reader.n_docs == oracle.n_docs
    assert math.isclose(reader.avgdl, oracle.avgdl, abs_tol=1e-12)
    ts = {r["term"]: (r["df"], r["cf"])
          for r in catalog.read_table(spark, "termstats").collect()}
    assert set(ts) == set(oracle.postings)
    for t, (df, cf) in ts.items():
        assert df == oracle.df(t), t
        assert cf == oracle.cf(t), t


def test_search_fast_rank_identical(spark, tiny_index):
    from text_retrieval_and_search_engines_spark.plans.query import search_fast
    reader, oracle, catalog, en = tiny_index
    qpdf, qdf = _queries_df(spark, n=6)
    qlist = [(row.qid, row.text) for row in qpdf.itertuples()]
    got = _collect_run(search_fast(reader, qlist, SearchParams(k=15)))
    expected = {row.qid: oracle.search(row.text, k=15)
                for row in qpdf.itertuples()}
    _assert_rank_identical(got, expected, 15)
    # degenerate inputs
    assert search_fast(reader, [("x", "zzznope")]).count() == 0
    assert search_fast(reader, []).count() == 0


@pytest.mark.parametrize("mode", ["or", "and"])
def test_duplicate_qid_rows_form_one_query(spark, tiny_index, mode):
    """Rows sharing a qid form ONE query: two rows of qid "q" that share a
    term score exactly like their concatenated text — through search,
    search_fast and the oracle. A repeated (qid, term) must count once, or
    mode="and" admits docs that lack a query term."""
    reader, oracle, catalog, en = tiny_index
    # frequent terms that analyze to themselves, so the intersection of
    # three of them is non-empty and a shared term is easy to build
    t0, t1, t2 = [t for t in sorted(oracle.postings,
                                    key=lambda t: (-oracle.df(t), t))
                  if tokenize(t) == [t]][:3]
    q1, q2 = f"{t0} {t1}", f"{t0} {t2}"
    concat = f"{q1} {q2}"
    p = SearchParams(k=30, mode=mode)
    expected = {"q": oracle.search(concat, k=30, mode=mode)}
    assert expected["q"]

    rows = [("q", q1), ("q", q2)]
    qdf = spark.createDataFrame(rows, "qid string, text string")
    runs = {
        "search": _collect_run(search(reader, qdf, p)),
        "search_fast": _collect_run(search_fast(reader, rows, p)),
        "concat": _collect_run(search_fast(reader, [("q", concat)], p)),
    }
    for name, got in runs.items():
        _assert_rank_identical(got, expected, 30)
        assert got == runs["concat"], name


_EMPTY_SCHEMA = "struct<qid:string,docid:bigint,score:double,rank:int>"


@pytest.mark.parametrize("text", [None, "", " \t\n ", "the and of"],
                         ids=["null", "empty", "whitespace", "stopwords"])
def test_degenerate_query_text(spark, tiny_index, text):
    """A query whose text is null, empty, whitespace-only or stopword-only
    returns no rows and leaves the other qids of its batch untouched; an
    empty query list or DataFrame returns the empty ranked frame."""
    reader, oracle, catalog, en = tiny_index
    qpdf, _ = _queries_df(spark, n=2)
    good = [(row.qid, row.text) for row in qpdf.itertuples()]
    expected = {qid: oracle.search(qt, k=10) for qid, qt in good}
    queries = [("n", text)] + good
    qdf = spark.createDataFrame(queries, "qid string, text string")
    p = SearchParams(k=10)
    for df in (search(reader, qdf, p), search_fast(reader, queries, p)):
        _assert_rank_identical(_collect_run(df), expected, 10)

    empty_df = spark.createDataFrame([], "qid string, text string")
    for df in (search(reader, empty_df, p), search_fast(reader, [], p)):
        assert df.schema.simpleString() == _EMPTY_SCHEMA
        assert df.count() == 0
