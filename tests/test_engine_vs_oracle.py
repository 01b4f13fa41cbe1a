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


# ------------------------------------------- scoring placement bit-identity
# search scores a small matched set on the driver and a large one on the
# cluster (plans/query.py DRIVER_SCORING_MAX_POSTINGS). Both placements run
# one kernel generator over rows in one order, so every case below must
# come back with exactly equal (qid, rank, docid, score) rows.

TIE_TEXT = "zebra quokka zebra"


@pytest.fixture(scope="module")
def appended_reader(spark, tmp_path_factory):
    """range_size 32: 100 base docs + one appended epoch of 50, so base
    docs 96-99 and appended docs 100-127 share range 3 (two chunks per
    (term, range_id)), and a query spans up to 5 ranges. Four docs, one
    of them appended, carry the same planted text: a tie at any k < 4."""
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        IndexConfig, build_index)
    from text_retrieval_and_search_engines_spark.plans.query import (
        IndexReader)
    from text_retrieval_and_search_engines_spark.sources.pages import (
        synth_pages)
    from text_retrieval_and_search_engines_spark.sources.tables import (
        Catalog)
    from text_retrieval_and_search_engines_spark.streaming.incremental import (
        append_pages_batch)

    pages = synth_pages(150, seed=42, vocab_size=500)
    pages.loc[[3, 40, 77, 120], "text"] = TIE_TEXT
    cfg = IndexConfig(range_size=32, block=16, langs=(),
                      recompute_text=False, materialize_docs=False)
    cat = Catalog(str(tmp_path_factory.mktemp("placement")))
    build_index(spark, spark.createDataFrame(pages[:100]), cat, cfg,
                input_fp="placement")
    append_pages_batch(spark, spark.createDataFrame(pages[100:]), cat, cfg)
    reader = IndexReader(spark, cat)
    assert reader.n_docs == 150
    assert (reader.postings.groupBy("term", "range_id").count()
            .filter("count > 1").count()) > 0
    return reader


def _placement_runs(reader, monkeypatch, run) -> dict:
    """{placement: sorted (qid, rank, docid, score) rows of run()}, each
    placement forced through the bound, with the reader's placement
    counter checked to show the path taken."""
    from text_retrieval_and_search_engines_spark.plans import query

    runs = {}
    for placement, bound in (("cluster", -1), ("driver", 1 << 62)):
        monkeypatch.setattr(query, "DRIVER_SCORING_MAX_POSTINGS", bound)
        before = reader.placements.copy()
        df = run()
        assert df.schema.simpleString() == _EMPTY_SCHEMA
        runs[placement] = sorted(
            tuple(r) for r in df.select("qid", "rank", "docid", "score")
            .collect())
        # a batch with hits took exactly this placement; one with none may
        # have stopped before scoring (no query term in the index)
        taken = set(reader.placements - before)
        assert taken <= {placement} and (taken or not runs[placement]), \
            taken
    return runs


@pytest.mark.parametrize("mode", ["or", "and"])
@pytest.mark.parametrize("algo", ["exact", "bmw"])
def test_placements_bit_identical(spark, appended_reader, monkeypatch,
                                  algo, mode):
    reader = appended_reader
    qpdf = synth_queries(6, seed=42, vocab_size=500)
    good = [(q, t) for q, t in zip(qpdf["qid"], qpdf["text"])
            if reader.df_lookup(tokenize(t))]
    assert len(good) >= 3
    rows = good + [("dup", good[0][1]), ("dup", good[1][1]),
                   ("oov", "zzzmissing qqqnothere"), ("tie", TIE_TEXT)]
    tied = None
    for k in (1000, 10, 2):
        runs = _placement_runs(reader, monkeypatch, lambda: search_fast(
            reader, rows, SearchParams(k=k, algo=algo, mode=mode)))
        assert runs["driver"] == runs["cluster"], (k, algo, mode)
        got = runs["driver"]
        assert "oov" not in {q for q, _, _, _ in got}
        tie = [(d, s) for q, _, d, s in got if q == "tie"]
        assert len(tie) == min(k, 4) and len({s for _, s in tie}) == 1
        if k == 1000:
            # k exceeds every qid's hit count; one qid spans >= 3 ranges
            assert all(r <= 150 for _, r, _, _ in got)
            assert max(len({d // 32 for q2, _, d, _ in got if q2 == q})
                       for q, _ in rows) >= 3
            tied = sorted(d for d, _ in tie)
        # a tie at the k-th score keeps the smallest docids
        assert [d for d, _ in tie] == tied[:k]
    # no hits: an OOV-only batch (nothing to score) and, in mode="and", two
    # terms that share no doc (the kernel emits nothing) -> the empty
    # ranked frame in either placement
    runs = _placement_runs(reader, monkeypatch, lambda: search_fast(
        reader, [("oov", "zzzmissing")], SearchParams(algo=algo, mode=mode)))
    assert runs == {"cluster": [], "driver": []}
    apart = f"zebra {tokenize(good[0][1])[0]}"
    runs = _placement_runs(reader, monkeypatch, lambda: search_fast(
        reader, [("apart", apart)], SearchParams(algo=algo, mode=mode)))
    assert runs["driver"] == runs["cluster"]
    assert bool(runs["driver"]) == (mode == "or")


def test_rm3_placements_bit_identical(spark, tiny_index, monkeypatch):
    """RM3's feedback pass and its weighted second pass both go through
    the placement choice."""
    reader, oracle, catalog, en = tiny_index
    _, qdf = _queries_df(spark, n=4)
    docs = catalog.read_table(spark, "docs")
    runs = _placement_runs(reader, monkeypatch, lambda: search_rm3(
        reader, qdf, docs, params=SearchParams(k=20)))
    assert runs["driver"] and runs["driver"] == runs["cluster"]


def test_driver_lookup_runs_one_spark_job(spark, tiny_index):
    """A warm k=10 search_fast below the bound is ONE Spark job (the
    pruned postings fetch); its result is a local relation, so collecting
    it runs none."""
    reader = tiny_index[0]
    q, p = [("q", "spark data")], SearchParams(k=10)
    search_fast(reader, q, p).collect()          # warm the df memo
    sc = spark.sparkContext
    before = reader.placements["driver"]
    sc.setJobGroup("driver-lookup", "warm k=10 search_fast")
    try:
        rows = search_fast(reader, q, p).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert reader.placements["driver"] == before + 1
    assert len(sc.statusTracker().getJobIdsForGroup("driver-lookup")) == 1
