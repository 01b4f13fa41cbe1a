"""Incremental curation on appended epochs (VERDICT r4 item 4): a
near-duplicate of a BASE-corpus doc appended later is flagged/dropped with
its drop counted in metrics, the signature state advances exactly-once,
and only survivors reach the index."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text_retrieval_and_search_engines_spark.operators import curate, dedup  # noqa: E402
from text_retrieval_and_search_engines_spark.plans.index_build import (  # noqa: E402
    IndexConfig, build_index)
from text_retrieval_and_search_engines_spark.sources.tables import Catalog  # noqa: E402

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu").split()


def _text(seed: int, n: int = 40) -> str:
    import random
    rng = random.Random(1000 + seed)
    return " ".join(f"{rng.choice(WORDS)}{rng.randrange(100)}"
                    for _ in range(n))


KEEP_ALL = curate.CurateConfig(min_quality=0.0, min_words=1,
                               max_top_bigram_frac=1.0)


@pytest.fixture()
def base_catalog(spark, tmp_path):
    """Curated base corpus with signature state + a built index over it."""
    base = spark.createDataFrame(
        [(f"u{i}", _text(i)) for i in range(20)], "url string, text string")
    catalog = Catalog(str(tmp_path / "cat"))
    curated, stats = curate.curate_corpus(
        spark, base, catalog, KEEP_ALL, id_col="url", text_col="text",
        write_state=True)
    assert stats["rows_out"] == 20        # nothing near-dup in the base
    cfg = IndexConfig(range_size=256, langs=(), recompute_text=False,
                      materialize_docs=False)
    build_index(spark, curated, catalog, cfg, input_fp="base20")
    return catalog, cfg


def _append_batch(spark):
    """One base near-dup, one fresh doc, two within-batch near-dups."""
    near_base = "changed999 " + _text(3).split(" ", 1)[1]     # ~J 0.9 vs u3
    fresh = " ".join(f"zz{i}novel{i * 13}" for i in range(40))
    twin_a = _text(77)
    twin_b = "mutated888 " + _text(77).split(" ", 1)[1]
    return spark.createDataFrame(
        [("a0", near_base), ("a1", fresh), ("a2", twin_a), ("a3", twin_b)],
        "url string, text string")


def test_filter_appended_neardups_flags_base_and_within(spark, base_catalog):
    catalog, _ = base_catalog
    batch = _append_batch(spark)
    kept, stats = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text")
    urls = {r["url"] for r in kept.select("url").collect()}
    assert stats["batch_in"] == 4
    assert stats["dropped_near_base"] == 1 and "a0" not in urls
    assert stats["dropped_within_batch"] == 1 and "a3" not in urls
    assert urls == {"a1", "a2"} and stats["kept"] == 2
    # drop counts landed in the metrics table
    m = {(r["metric"]): r["value"]
         for r in catalog.read_table(spark, "metrics")
         .filter(F.col("phase") == "curate_append").collect()}
    assert m["dropped_near_base"] == 1 and m["dropped_within_batch"] == 1


def test_filter_appended_neardups_non_ascii_urls(spark, base_catalog):
    """ADVICE high: a non-ASCII url in the batch (here the base near-dup
    and one within-batch twin) used to crash both pair kernels."""
    catalog, _ = base_catalog
    rows = [(u.replace("a0", "é0").replace("a3", "中3"), t)
            for u, t in _append_batch(spark).collect()]
    batch = spark.createDataFrame(rows, "url string, text string")
    kept, stats = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text")
    urls = {r["url"] for r in kept.select("url").collect()}
    kept.unpersist()
    assert stats["dropped_near_base"] == 1 and "é0" not in urls
    # a2 < 中3 in byte order: the CJK twin is the within-batch drop
    assert stats["dropped_within_batch"] == 1 and urls == {"a1", "a2"}


def test_curated_append_is_exactly_once_end_to_end(spark, base_catalog):
    catalog, cfg = base_catalog
    batch = _append_batch(spark)
    n_sigs0 = catalog.read_table(spark, curate.NEARDUP_SIG_TABLE).count()

    info = curate.append_pages_batch_curated(
        spark, batch, catalog, cfg, epoch_tag="ep1")
    assert info["appended_docs"] == 2
    assert info["curate_dropped_near_base"] == 1
    assert info["curate_dropped_within_batch"] == 1

    # survivors (and only survivors) reached the index docmap
    urls = {r["url"] for r in catalog.read_table(spark, "docmap").collect()}
    assert {"a1", "a2"} <= urls and "a0" not in urls and "a3" not in urls

    # signature state advanced by exactly the kept docs
    sigs = catalog.read_table(spark, curate.NEARDUP_SIG_TABLE)
    assert sigs.count() == n_sigs0 + 2
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} >= {"a1", "a2"}

    # replay of the same epoch tag is a full no-op
    info2 = curate.append_pages_batch_curated(
        spark, batch, catalog, cfg, epoch_tag="ep1")
    assert info2.get("skipped") is True
    assert catalog.read_table(spark, curate.NEARDUP_SIG_TABLE).count() \
        == n_sigs0 + 2
    assert catalog.read_table(spark, "docmap").count() == len(urls)

    # a LATER epoch appending a near-dup of a doc kept in ep1 drops it:
    # the state advanced, so incremental curation composes across epochs
    batch2 = spark.createDataFrame(
        [("b0", _text(77).rsplit(" ", 1)[0] + " tail777"),   # ~ a2
         ("b1", " ".join(f"qq{i}unique{i * 11}" for i in range(40)))],
        "url string, text string")
    info3 = curate.append_pages_batch_curated(
        spark, batch2, catalog, cfg, epoch_tag="ep2")
    assert info3["curate_dropped_near_base"] == 1
    assert info3["appended_docs"] == 1
    urls2 = {r["url"] for r in catalog.read_table(spark, "docmap").collect()}
    assert "b1" in urls2 and "b0" not in urls2


def test_filter_update_state_tag_is_idempotent(spark, base_catalog):
    catalog, _ = base_catalog
    batch = _append_batch(spark)
    kept, stats = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text",
        update_state_tag="t1")
    kept.count()
    assert stats["kept"] == 2
    _, stats2 = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text",
        update_state_tag="t1")
    assert stats2.get("skipped") is True
    # exactly one signature append happened
    n = (catalog.read_table(spark, curate.NEARDUP_SIG_TABLE)
         .filter(F.col("doc_id").isin(["a1", "a2"])).count())
    assert n == 2


def test_minhash_neardup_vs_base_estimates(spark):
    """The cross-frame estimator: a planted near-pair passes the bar, an
    unrelated pair does not, and self-ids are excluded."""
    base = spark.createDataFrame(
        [("b0", _text(5)), ("b1", _text(9))], "doc_id string, text string")
    new = spark.createDataFrame(
        [("n0", "shifted555 " + _text(5).split(" ", 1)[1]),  # near b0
         ("n1", " ".join(f"xx{i}yy{i * 7}" for i in range(40))),
         ("b0", _text(5))],                               # same id as base
        "doc_id string, text string")
    bs = dedup.minhash_signatures(dedup.char_shingles(base),
                                  n_hashes=dedup.PREFILTER_N)
    ns = dedup.minhash_signatures(dedup.char_shingles(new),
                                  n_hashes=dedup.PREFILTER_N)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_neardup_vs_base(ns, bs).collect()}
    assert ("n0", "b0") in pairs
    assert not any(a == "n1" for a, _ in pairs)
    assert ("b0", "b0") not in pairs      # self-id excluded


def test_metrics_tag_makes_drop_metrics_exactly_once(spark, base_catalog):
    """A Structured-Streaming replay re-runs the filter for an epoch whose
    index append landed but whose sig append did not — the drop metrics
    must not double-count (they are keyed by metrics_tag)."""
    catalog, _ = base_catalog
    batch = _append_batch(spark)
    for _ in range(2):   # same tag, filter executes fully both times
        curate.filter_appended_neardups(
            spark, batch, catalog, id_col="url", text_col="text",
            metrics_tag="m1")[0].unpersist()
    rows = (catalog.read_table(spark, "metrics")
            .filter((F.col("phase") == "curate_append")
                    & (F.col("metric") == "dropped_near_base")).collect())
    assert len(rows) == 1 and rows[0]["value"] == 1


def test_state_rebuild_retires_stale_epoch_tags(spark, base_catalog):
    """curate --write-state OVERWRITES the signature table but leaves old
    manifest entries behind; replaying an old epoch tag afterwards must
    re-process the batch (the stale `neardup-sigs:{tag}` marker died with
    the state it appended to), not skip it as a replay."""
    catalog, _ = base_catalog
    batch = _append_batch(spark)
    kept, stats = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text",
        update_state_tag="t9")
    assert stats["kept"] == 2
    kept.unpersist()

    # rebuild the base state (same base corpus, fresh overwrite)
    base = spark.createDataFrame(
        [(f"u{i}", _text(i)) for i in range(20)], "url string, text string")
    curate.curate_corpus(spark, base, catalog, KEEP_ALL, id_col="url",
                         text_col="text", write_state=True)

    kept2, stats2 = curate.filter_appended_neardups(
        spark, batch, catalog, id_col="url", text_col="text",
        update_state_tag="t9")
    assert stats2.get("skipped") is None          # NOT swallowed
    assert stats2["batch_in"] == 4 and stats2["kept"] == 2
    kept2.unpersist()


def test_stream_neardup_jaccard_reaches_filter(spark, base_catalog,
                                               tmp_path):
    """--neardup-jaccard must reach the micro-batch filter in STREAM mode:
    at jaccard=0.999 (estimate bar 31/32) both planted near-dups survive
    — their fixed signature match counts are 29 (a0-u3) and 30 (a2-a3) —
    while at the 0.8 default both are dropped (proven by
    test_curated_append_is_exactly_once_end_to_end); the round-5 review
    found the flag silently ignored on the stream path."""
    from text_retrieval_and_search_engines_spark.streaming.incremental import (
        stream_pages_into_index)
    catalog, cfg = base_catalog
    src = str(tmp_path / "pages")
    (_append_batch(spark)
     .select("url", F.lit(None).cast("timestamp").alias("warc_ts"),
             F.lit(None).cast("binary").alias("html"), "text",
             F.lit("en").alias("lang"))
     .write.mode("overwrite").parquet(src))
    q = stream_pages_into_index(
        spark, src,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string", catalog, cfg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        curate_neardups=True, neardup_jaccard=0.999)
    q.awaitTermination()
    urls = {r["url"] for r in catalog.read_table(spark, "docmap").collect()}
    assert {"a0", "a1", "a2", "a3"} <= urls   # nothing reaches the .999 bar
