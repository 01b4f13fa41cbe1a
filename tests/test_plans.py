"""Physical-plan property pins — the PLANS.md claims, asserted.

These tests read `.explain`/`queryExecution` output so a regression in the
plan shape (lost column pruning, lost partition pruning, broadcast side
flip) fails CI instead of silently costing 10x at scale.
"""

from __future__ import annotations

import pytest

from text_retrieval_and_search_engines_spark.plans.query import (
    SearchParams, search, search_fast)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def reader(tiny_index):
    return tiny_index[0]


def test_exact_scan_prunes_blockmax_columns(spark, reader):
    """Exact mode must NOT read the block-max/skip columns — that is ~40%
    of postings bytes paid for nothing (PLANS.md 'column pruning')."""
    qdf = spark.createDataFrame([("q", "spark data")],
                                "qid string, text string")
    plan = _plan(search(reader, qdf, SearchParams(k=5, algo="exact")))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    schema_line = scan[0]
    assert "payload" in schema_line
    for col in ("block_last", "block_max_tf", "goff"):
        assert col not in schema_line, schema_line


def test_bmw_scan_reads_blockmax_columns(spark, reader):
    qdf = spark.createDataFrame([("q", "spark data")],
                                "qid string, text string")
    plan = _plan(search(reader, qdf, SearchParams(k=5, algo="bmw")))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "block_last" in scan[0] and "goff" in scan[0]


def _assert_bucket_partition_filter(plan: str) -> None:
    """The scan's PartitionFilters must constrain term_bucket beyond
    nullness."""
    assert "term_bucket" in plan
    part_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln]
    assert part_lines, plan
    assert any(("term_bucket IN" in ln) or ("term_bucket =" in ln)
               or ("term_bucket#" in ln and "IN" in ln)
               for ln in part_lines), "\n".join(part_lines)


def test_search_fast_static_bucket_pruning(spark, reader):
    """Driver-computed bucket list must appear as a partition filter on the
    postings scan (the Lucene-term-dictionary analogue)."""
    df = search_fast(reader, [("q", "spark data")], SearchParams(k=5))
    _assert_bucket_partition_filter(_plan(df))


def test_batch_search_static_bucket_pruning(spark, reader):
    """Batch search takes the same driver-side query path, so it prunes the
    same term_bucket directories before the scan."""
    qdf = spark.createDataFrame([("q", "spark data")],
                                "qid string, text string")
    _assert_bucket_partition_filter(
        _plan(search(reader, qdf, SearchParams(k=5))))


@pytest.mark.parametrize("algo", ["exact", "bmw"])
def test_scoring_exchange_is_input_sized(spark, reader, algo):
    """The scoring exchange carries no explicit partition count, so AQE may
    size the stage from the bytes it measures."""
    plan = _plan(search_fast(reader, [("q", "spark data")],
                             SearchParams(k=5, algo=algo)))
    assert "REPARTITION_BY_COL" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_search_fast_scoring_stage_coalesced(spark, reader):
    """After a warm single query collects, its final adaptive plan reads the
    scoring exchange through a coalesced AQE shuffle read: a few matched
    rows no longer fan out to spark.sql.shuffle.partitions tasks."""
    search_fast(reader, [("q", "spark data")], SearchParams(k=5)).collect()
    df = search_fast(reader, [("q", "spark data")], SearchParams(k=5))
    df.collect()
    lines = _plan(df).splitlines()
    ex = [i for i, ln in enumerate(lines) if "REPARTITION_BY_COL" in ln]
    assert ex, "\n".join(lines)
    above = lines[ex[0] - 2:ex[0]]
    assert "AQEShuffleRead coalesced" in above[0], "\n".join(lines)
    assert "ShuffleQueryStage" in above[1], "\n".join(lines)


def test_query_terms_are_broadcast_side(spark, reader):
    """The broadcast build side must be the tiny query-term dimension,
    never the postings table."""
    qdf = spark.createDataFrame([("q", "spark data")],
                                "qid string, text string")
    plan = _plan(search(reader, qdf, SearchParams(k=5)))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the postings FileScan must NOT sit under a BroadcastExchange: walk the
    # indented tree and check no postings scan line is deeper than a
    # broadcast exchange ancestor within the same subtree chunk
    lines = plan.splitlines()
    bcast_stack = []  # indents of active BroadcastExchange subtrees
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" :+-*("))
        bcast_stack = [b for b in bcast_stack if indent > b]
        if "BroadcastExchange" in ln:
            bcast_stack.append(indent)
        if "parquet" in ln and "postings" in ln:
            assert not bcast_stack, f"postings scan under broadcast:\n{ln}"


def test_window_group_limit_partial(spark, reader):
    """Catalyst must insert the partial top-k (WindowGroupLimit) before the
    per-qid merge exchange, so scoring partitions pre-truncate to k."""
    qdf = spark.createDataFrame([("q", "spark data")],
                                "qid string, text string")
    plan = _plan(search(reader, qdf, SearchParams(k=5)))
    assert "WindowGroupLimit" in plan


def test_build_postings_single_shuffle(spark, tiny_index):
    """PLANS.md build claim: runs -> merge is ONE exchange, keyed by
    (term_bucket, range_id), with both kernels as Arrow maps — no second
    payload shuffle anywhere in the postings plan."""
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        IndexConfig, build_postings)

    _reader, _oracle, catalog, _en = tiny_index
    doc_tokens = catalog.read_table(spark, "doc_tokens")
    plan = _plan(build_postings(
        doc_tokens, IndexConfig(range_size=64, block=16)))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan
    assert "term_bucket" in plan and "range_id" in plan
    assert plan.count("MapInArrow") == 2, plan


def test_bm25_topk_empty_query_keeps_doc_id_type(spark):
    """ADVICE: an all-empty query batch used to return doc_id bigint on a
    string-id corpus while a non-empty batch returns the corpus's own
    doc_id type; both must carry the corpus type."""
    from text_retrieval_and_search_engines_spark.plans.bm25_relational import (
        bm25_topk)

    docs = spark.createDataFrame(
        [("https://x/é", "spark engines index"), ("u2", "inverted index")],
        "doc_id string, text string")
    empty = bm25_topk(docs, [("q1", ""), ("q2", "!!")], k=5)
    full = bm25_topk(docs, [("q1", "index")], k=5)
    assert empty.schema.simpleString() == full.schema.simpleString()
    assert empty.schema["doc_id"].dataType.simpleString() == "string"
    assert empty.count() == 0
