"""M5: kill the build mid-phase -> resume -> identical index + lineage
(north_star: resumable from snapshot checkpoints)."""

from __future__ import annotations

import pytest

from text_retrieval_and_search_engines_spark.plans import index_build as ib
from text_retrieval_and_search_engines_spark.sources.pages import synth_pages
from text_retrieval_and_search_engines_spark.sources.tables import Catalog


def _postings_dict(spark, catalog):
    rows = catalog.read_table(spark, "postings").collect()
    return {(r["term"], r["range_id"]):
            (bytes(r["payload"]), list(r["block_last"]))
            for r in rows}


def test_kill_and_resume(spark, tmp_path, monkeypatch):
    pages = spark.createDataFrame(synth_pages(120, seed=7, vocab_size=300))
    cfg = ib.IndexConfig(range_size=32, block=8)

    # full reference build
    cat_full = Catalog(str(tmp_path / "full"))
    ib.build_index(spark, pages, cat_full, cfg, input_fp="r")

    # killed build: crash inside the postings phase
    cat_kill = Catalog(str(tmp_path / "kill"))
    real_build_postings = ib.build_postings

    def boom(tokens, cfg):
        raise RuntimeError("simulated executor loss")

    monkeypatch.setattr(ib, "build_postings", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        ib.build_index(spark, pages, cat_kill, cfg, input_fp="r")
    monkeypatch.setattr(ib, "build_postings", real_build_postings)

    # phase 1 snapshot must exist; postings must not
    assert cat_kill.has_table("doc_tokens", cfg.fingerprint("r"))
    assert not cat_kill.has_table("postings", cfg.fingerprint("r"))

    # resume completes from the checkpoint (doc_tokens not recomputed: we
    # verify by poisoning tokenize_docs — resume must never call it)
    def poisoned_tokenize(docs):
        raise AssertionError("resume recomputed a completed phase")

    monkeypatch.setattr(ib, "tokenize_docs", poisoned_tokenize)
    info = ib.build_index(spark, pages, cat_kill, cfg, input_fp="r")
    assert info["n_docs"] > 0

    # identical index bytes + identical block metadata
    assert _postings_dict(spark, cat_kill) == _postings_dict(spark, cat_full)

    # lineage rows exist for every build partition seen in postings
    lineage = cat_kill.read_table(spark, "lineage").collect()
    assert len(lineage) > 0
    assert all(r["n_postings"] > 0 and r["bytes"] > 0 for r in lineage)

    # stats identical
    s1 = cat_full.read_table(spark, "stats").collect()[0]
    s2 = cat_kill.read_table(spark, "stats").collect()[0]
    assert s1 == s2


def test_empty_corpus_build_and_query(spark, tmp_path):
    """A fully lang-filtered (empty) corpus must build a VALID empty index
    — a zero-row partitionBy write leaves only _SUCCESS and schema
    inference fails without the explicit-schema read path."""
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        IndexConfig, build_index)
    from text_retrieval_and_search_engines_spark.plans.query import (
        IndexReader, SearchParams, search, search_fast)
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog

    cat = Catalog(str(tmp_path / "empty_cat"))
    empty = spark.createDataFrame([], "url string, text string")
    cfg = IndexConfig(range_size=64, langs=(), recompute_text=False,
                      materialize_docs=False)
    info = build_index(spark, empty, cat, cfg, input_fp="empty")
    assert info["n_docs"] == 0 and info["avgdl"] == 0.0
    reader = IndexReader(spark, cat)
    assert search_fast(reader, [("q", "anything")],
                       SearchParams(k=5)).count() == 0
    qdf = spark.createDataFrame([("q", "anything")],
                                "qid string, text string")
    assert search(reader, qdf, SearchParams(k=5)).count() == 0


_CFG = ib.IndexConfig(range_size=64, block=16, langs=(), recompute_text=False,
                      materialize_docs=False)


def _top10(spark, catalog, text="spark index data"):
    from text_retrieval_and_search_engines_spark.plans.query import (
        IndexReader, SearchParams, search_fast)
    reader = IndexReader(spark, catalog)
    return reader.n_docs, [(r["docid"], r["score"]) for r in search_fast(
        reader, [("q", text)], SearchParams(k=10)).collect()]


def test_rebuild_after_overwrite_by_another_build(spark, tmp_path):
    """A later overwrite by another build (another fingerprint) replaces
    the files a snapshot names: building the first config again must redo
    every phase, not resume onto the other build's data."""
    pages_a = spark.createDataFrame(synth_pages(60, seed=21, vocab_size=200))
    pages_b = spark.createDataFrame(synth_pages(40, seed=22, vocab_size=200))
    cfg_b = ib.IndexConfig(range_size=32, block=8, langs=(),
                           recompute_text=False, materialize_docs=False)
    ref = Catalog(str(tmp_path / "ref"))
    ib.build_index(spark, pages_a, ref, _CFG, input_fp="a")

    cat = Catalog(str(tmp_path / "cat"))
    ib.build_index(spark, pages_a, cat, _CFG, input_fp="a")
    ib.build_index(spark, pages_b, cat, cfg_b, input_fp="b")
    assert not cat.has_table("doc_tokens", _CFG.fingerprint("a"))
    info = ib.build_index(spark, pages_a, cat, _CFG, input_fp="a")
    assert set(info["phase_sec"]) == {"tokenize", "postings", "meta"}
    assert info["n_docs"] == 60
    assert _top10(spark, cat) == _top10(spark, ref)


def test_build_after_append_and_compact_resumes(spark, tmp_path):
    """Append and compaction markers extend the base build's tables: the
    same build call afterwards skips every phase and keeps the appended
    documents searchable."""
    from text_retrieval_and_search_engines_spark.streaming.incremental import (
        append_pages_batch, compact_postings)
    p1 = synth_pages(60, seed=11, vocab_size=200)
    p2 = synth_pages(40, seed=12, vocab_size=200)
    p2["url"] = p2["url"].str.replace("doc", "newdoc")  # disjoint urls
    cat = Catalog(str(tmp_path / "cat"))
    pages = spark.createDataFrame(p1)
    ib.build_index(spark, pages, cat, _CFG, input_fp="b0")
    append_pages_batch(spark, spark.createDataFrame(p2), cat, _CFG)
    compact_postings(spark, cat, _CFG)
    before = _top10(spark, cat)
    assert before[0] == 100

    info = ib.build_index(spark, pages, cat, _CFG, input_fp="b0")
    assert info["phase_sec"] == {}
    assert _top10(spark, cat) == before
