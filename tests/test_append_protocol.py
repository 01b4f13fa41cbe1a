"""Round-3 append-protocol contracts (VERDICT r2 item 1 + ADVICE r2):

* termstats appends per-batch DELTA rows merged on read — never an O(vocab)
  rewrite per micro-batch (rows written == batch vocab; base files untouched);
* the two-phase epoch protocol makes a foreachBatch replay of an applied
  micro-batch a no-op (exactly-once appends under Structured Streaming
  retry semantics);
* a crash at ANY point of the move phase is recovered by recover_appends
  (committed epochs complete; uncommitted staging is discarded);
* recover_table heals an interrupted swap for any table, not just postings.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.plans.index_build import (
    IndexConfig, build_index)
from text_retrieval_and_search_engines_spark.plans.query import (
    IndexReader, SearchParams, search_fast)
from text_retrieval_and_search_engines_spark.sources.pages import synth_pages
from text_retrieval_and_search_engines_spark.sources.tables import Catalog
from text_retrieval_and_search_engines_spark.streaming import incremental
from text_retrieval_and_search_engines_spark.streaming.incremental import (
    append_pages_batch, compact_postings, epoch_applied, read_termstats,
    recover_appends, recover_table)

CFG = IndexConfig(range_size=64, block=16, langs=(), recompute_text=False,
                  materialize_docs=False)


def _build(spark, tmp_path, n=40, seed=101):
    p1 = synth_pages(n, seed=seed, vocab_size=150)
    cat = Catalog(str(tmp_path / "cat"))
    build_index(spark, spark.createDataFrame(p1), cat, CFG, input_fp="base")
    return cat


def _batch(spark, n, seed, prefix):
    p = synth_pages(n, seed=seed, vocab_size=150)
    p["url"] = p["url"].str.replace("doc", prefix)
    return spark.createDataFrame(p)


def test_append_is_o_batch_not_o_vocab(spark, tmp_path):
    """The termstats append must write exactly the BATCH vocabulary as new
    delta rows and leave every pre-existing termstats file untouched —
    the O(vocab)-per-append rewrite from round 2 is gone."""
    cat = _build(spark, tmp_path)
    ts_dir = cat.path("termstats")
    before_files = set(glob.glob(f"{ts_dir}/**/*.parquet", recursive=True))
    before_mtimes = {f: os.path.getmtime(f) for f in before_files}
    raw_before = spark.read.parquet(ts_dir).count()

    batch = _batch(spark, 25, 102, "d1doc")
    batch_vocab = (batch.select(F.explode(F.split(
        F.lower("text"), r"[^a-z0-9]+")).alias("t"))
        .filter("t <> ''").select("t").distinct().count())
    append_pages_batch(spark, batch, cat, CFG)

    after_files = set(glob.glob(f"{ts_dir}/**/*.parquet", recursive=True))
    # base files untouched (same names, same mtimes) — no rewrite
    assert before_files <= after_files
    for f in before_files:
        assert os.path.getmtime(f) == before_mtimes[f]
    # raw rows grew by exactly the batch vocab (delta rows, merge-on-read)
    raw_after = spark.read.parquet(ts_dir).count()
    new_terms = (spark.read.parquet(ts_dir).groupBy("term").count()
                 .filter("count > 1").count())
    assert raw_after - raw_before <= batch_vocab
    assert raw_after - raw_before >= new_terms  # sanity: deltas overlap base

    # the appended segment emitted its own lineage rows (north_star)
    lin = cat.read_table(spark, "lineage")
    assert lin.filter(F.col("phase").startswith("append:")).count() > 0

    # merged view == full recompute from postings chunk stats
    reader = IndexReader(spark, cat)
    full = (reader.postings.groupBy("term")
            .agg(F.sum("df_chunk").alias("df0"),
                 F.sum("cf_chunk").alias("cf0")))
    diff = (full.join(reader.termstats, "term", "full")
            .filter(F.col("df0").isNull() | F.col("df").isNull()
                    | (F.col("df0") != F.col("df"))
                    | (F.col("cf0") != F.col("cf"))).count())
    assert diff == 0


def test_epoch_replay_is_noop(spark, tmp_path):
    """Replaying an applied epoch (Structured Streaming micro-batch retry)
    must not double-append documents or double-count stats."""
    cat = _build(spark, tmp_path)
    batch = _batch(spark, 20, 103, "epdoc")

    info1 = append_pages_batch(spark, batch, cat, CFG, epoch_tag="ck1e0")
    assert info1["appended_docs"] == 20
    assert epoch_applied(cat, "ck1e0")
    n_docs_1 = IndexReader(spark, cat).n_docs

    info2 = append_pages_batch(spark, batch, cat, CFG, epoch_tag="ck1e0")
    assert info2.get("skipped") is True
    reader = IndexReader(spark, cat)
    assert reader.n_docs == n_docs_1
    assert cat.read_table(spark, "docmap").count() == n_docs_1
    # df/cf did not double-count
    full = (reader.postings.groupBy("term")
            .agg(F.sum("df_chunk").alias("df0")))
    diff = (full.join(reader.termstats, "term", "full")
            .filter(F.col("df0") != F.col("df")).count())
    assert diff == 0


def test_crash_mid_move_recovers(spark, tmp_path, monkeypatch):
    """Crash between commit marker and move completion: recover_appends
    finishes publishing the staged files; the result equals a clean append."""
    cat = _build(spark, tmp_path)
    batch = _batch(spark, 15, 104, "crdoc")

    moved = []
    real_move = incremental._move_parquet_files

    def crashing_move(stage_dir, live_dir, tag):
        if len(moved) == 1:          # second table triggers the crash
            raise RuntimeError("simulated crash mid-move")
        moved.append(stage_dir)
        real_move(stage_dir, live_dir, tag)

    monkeypatch.setattr(incremental, "_move_parquet_files", crashing_move)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_pages_batch(spark, batch, cat, CFG, epoch_tag="ck2e0")
    monkeypatch.setattr(incremental, "_move_parquet_files", real_move)
    assert not epoch_applied(cat, "ck2e0")

    assert recover_appends(cat) is True
    assert epoch_applied(cat, "ck2e0")
    reader = IndexReader(spark, cat)
    assert reader.n_docs == 55
    # replay after recovery is still a no-op
    info = append_pages_batch(spark, batch, cat, CFG, epoch_tag="ck2e0")
    assert info.get("skipped") is True
    assert IndexReader(spark, cat).n_docs == 55
    # index is queryable and consistent
    got = search_fast(reader, [("q", "spark index data")],
                      SearchParams(k=5)).collect()
    assert len(got) <= 5


def test_crash_at_every_move_step(spark, tmp_path, monkeypatch):
    """Exhaustive crash-point sweep: inject a crash after k completed table
    moves for every k in 0..len(_APPEND_TABLES), recover, and verify the
    index equals a clean append every time (same n_docs, df/cf consistent
    with postings, searchable)."""
    real_move = incremental._move_parquet_files
    n_tables = len(incremental._APPEND_TABLES)

    for k in range(n_tables + 1):
        cat = Catalog(str(tmp_path / f"cat_k{k}"))
        p1 = synth_pages(30, seed=200 + k, vocab_size=120)
        build_index(spark, spark.createDataFrame(p1), cat, CFG,
                    input_fp=f"cp{k}")
        batch = _batch(spark, 12, 300 + k, f"cpdoc{k}")

        moved = [0]

        def crashing_move(stage_dir, live_dir, tag, _k=k, _m=moved):
            if _m[0] == _k:
                raise RuntimeError(f"crash after {_k} moves")
            _m[0] += 1
            real_move(stage_dir, live_dir, tag)

        monkeypatch.setattr(incremental, "_move_parquet_files",
                            crashing_move)
        if k < n_tables:
            with pytest.raises(RuntimeError, match="crash after"):
                append_pages_batch(spark, batch, cat, CFG,
                                   epoch_tag=f"sweep{k}")
        else:       # k == n_tables: crash AFTER all moves, before nothing
            monkeypatch.setattr(incremental, "_move_parquet_files",
                                real_move)
            append_pages_batch(spark, batch, cat, CFG,
                               epoch_tag=f"sweep{k}")
        monkeypatch.setattr(incremental, "_move_parquet_files", real_move)

        recover_appends(cat)
        assert epoch_applied(cat, f"sweep{k}")
        reader = IndexReader(spark, cat)
        assert reader.n_docs == 42, f"crash point {k}"
        # df/cf consistent with postings after recovery
        full = (reader.postings.groupBy("term")
                .agg(F.sum("df_chunk").alias("df0")))
        diff = (full.join(reader.termstats, "term", "full")
                .filter(F.col("df0").isNull() | F.col("df").isNull()
                        | (F.col("df0") != F.col("df"))).count())
        assert diff == 0, f"crash point {k}"
        # and the replay stays a no-op
        info = append_pages_batch(spark, batch, cat, CFG,
                                  epoch_tag=f"sweep{k}")
        assert info.get("skipped") is True


def test_reader_mid_move_sees_pre_epoch_snapshot(spark, tmp_path,
                                                 monkeypatch):
    """Snapshot isolation vs a concurrent appender: a reader that opens
    while the move phase is in flight (commit marker written, only SOME
    tables' files published) must see the exact pre-append state across
    ALL tables — moved files carry the epoch tag and read_table excludes
    committed-but-not-done epochs. After recovery the same reader code
    sees the full post-append state."""
    cat = _build(spark, tmp_path)
    r0 = IndexReader(spark, cat)
    n0 = r0.n_docs
    q = [("q", "spark index data")]
    before = [(r["docid"], round(r["score"], 10))
              for r in search_fast(r0, q, SearchParams(k=10)).collect()]

    real_move = incremental._move_parquet_files
    moved = [0]

    def crashing_move(stage_dir, live_dir, tag):
        if moved[0] == 3:      # docmap+doclens+postings in, stats/ts not
            raise RuntimeError("simulated crash mid-move")
        moved[0] += 1
        real_move(stage_dir, live_dir, tag)

    monkeypatch.setattr(incremental, "_move_parquet_files", crashing_move)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_pages_batch(spark, _batch(spark, 15, 120, "isodoc"), cat,
                           CFG, epoch_tag="iso-e0")
    monkeypatch.setattr(incremental, "_move_parquet_files", real_move)
    assert "iso-e0" in cat.pending_epoch_tags()

    # a reader opening NOW (writer mid-move / crashed) sees pre-epoch state
    r1 = IndexReader(spark, cat)
    assert r1.n_docs == n0
    assert cat.read_table(spark, "docmap").count() == n0
    mid = [(r["docid"], round(r["score"], 10))
           for r in search_fast(r1, q, SearchParams(k=10)).collect()]
    assert mid == before

    assert recover_appends(cat) is True
    assert not cat.pending_epoch_tags()
    r2 = IndexReader(spark, cat)
    assert r2.n_docs == n0 + 15
    assert cat.read_table(spark, "docmap").count() == n0 + 15


def test_compact_termstats_completes_crashed_epoch_first(spark, tmp_path,
                                                         monkeypatch):
    """compact_termstats on a catalog with a committed-but-unfinished epoch
    (writer crashed mid-move) must complete that epoch BEFORE swapping the
    live dirs — otherwise the epoch's already-moved termstats delta file
    is excluded from the fold, destroyed by the swap, and its postings
    later published without df/cf (review finding r3c)."""
    cat = _build(spark, tmp_path)
    real_move = incremental._move_parquet_files
    moved = [0]

    def crashing_move(stage_dir, live_dir, tag):
        if moved[0] == 4:    # docmap+doclens+postings+termstats in
            raise RuntimeError("simulated crash mid-move")
        moved[0] += 1
        real_move(stage_dir, live_dir, tag)

    monkeypatch.setattr(incremental, "_move_parquet_files", crashing_move)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_pages_batch(spark, _batch(spark, 15, 160, "ctxdoc"), cat,
                           CFG, epoch_tag="ctx-e0")
    monkeypatch.setattr(incremental, "_move_parquet_files", real_move)
    assert "ctx-e0" in cat.pending_epoch_tags()

    incremental.compact_termstats(spark, cat)

    assert epoch_applied(cat, "ctx-e0")
    reader = IndexReader(spark, cat)
    assert reader.n_docs == 55
    full = (reader.postings.groupBy("term")
            .agg(F.sum("df_chunk").alias("df0")))
    diff = (full.join(reader.termstats, "term", "full")
            .filter(F.col("df0").isNull() | F.col("df").isNull()
                    | (F.col("df0") != F.col("df"))).count())
    assert diff == 0


def test_read_table_all_files_pending_is_empty(spark, tmp_path):
    """If EVERY file of a table belongs to a pending epoch (e.g. a validly
    empty base table receiving its first append), the snapshot view is an
    empty table — not a fallback to the unfiltered directory (review
    finding r3c)."""
    cat = Catalog(str(tmp_path / "pcat"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cat.write_table(df, "tbl")
    # rename every file as epoch p1's and leave p1 committed-but-not-done
    for f in glob.glob(os.path.join(cat.path("tbl"), "*.parquet")):
        os.rename(f, os.path.join(os.path.dirname(f),
                                  "p1__" + os.path.basename(f)))
    cat._append_snapshot({"table": "_epochs", "fingerprint": "p1:commit",
                          "epoch_tag": "p1", "tables": ["tbl"]})
    assert cat.pending_epoch_tags() == {"p1"}
    assert cat.read_table(spark, "tbl", schema="id long, v string"
                          ).count() == 0
    assert cat.read_table(spark, "tbl").count() == 0
    # done marker publishes the epoch: rows visible again
    cat._append_snapshot({"table": "_epochs", "fingerprint": "p1:done"})
    assert cat.read_table(spark, "tbl").count() == 1


def test_recover_legacy_commit_without_stats_table(spark, tmp_path):
    """A commit marker persisted by the pre-append-mode-stats protocol
    (tables list without 'stats'; stats staged as a whole-dir swap) must
    still publish its staged stats when replayed after upgrade (review
    finding r3c)."""
    cat = _build(spark, tmp_path)
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        STATS_SCHEMA, read_stats_row)
    old = read_stats_row(spark, cat)
    # stage an old-style stats dir with a bumped next_docid
    new_row = (int(old["n_docs"]) + 7, float(old["avgdl"]),
               int(old["range_size"]), int(old["block"]),
               int(old["n_term_buckets"]), old["analyzer"],
               float(old["total_dl"]), int(old["next_docid"]) + 7)
    spark.createDataFrame([new_row], STATS_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(
            incremental._stage_path(cat, "stats", "legacy0"))
    cat._append_snapshot({
        "table": "_epochs", "fingerprint": "legacy0:commit",
        "epoch_tag": "legacy0",
        "tables": ["docmap", "doclens", "postings", "termstats",
                   "lineage"]})          # no 'stats' — old protocol
    assert recover_appends(cat) is True
    assert epoch_applied(cat, "legacy0")
    srow = read_stats_row(spark, cat)
    assert int(srow["next_docid"]) == int(old["next_docid"]) + 7
    assert int(srow["n_docs"]) == int(old["n_docs"]) + 7


def test_epoch_tag_validation(spark, tmp_path):
    """Tags become the '__'-separated filename prefix; '__' inside a tag
    would alias another tag's files in the reader-side exclusion."""
    cat = _build(spark, tmp_path)
    with pytest.raises(ValueError, match="invalid epoch tag"):
        append_pages_batch(spark, _batch(spark, 5, 170, "vtdoc"), cat,
                           CFG, epoch_tag="bad__tag")


def test_abandoned_staging_is_cleared(spark, tmp_path):
    """Staging dirs without a commit marker (crash during the stage phase)
    are discarded by recovery — the epoch will be fully redone."""
    cat = _build(spark, tmp_path)
    stale = cat.path("docmap__stage_deadbeef")
    os.makedirs(stale)
    assert recover_appends(cat) is True
    assert not os.path.exists(stale)
    # live tables untouched
    assert IndexReader(spark, cat).n_docs == 40


def test_compact_folds_termstats_deltas(spark, tmp_path):
    """After compaction termstats is back to ONE base row per term (no
    deltas), merge-on-read turns itself off, and query results are
    unchanged."""
    cat = _build(spark, tmp_path)
    append_pages_batch(spark, _batch(spark, 20, 105, "cmdoc"), cat, CFG)
    reader = IndexReader(spark, cat)
    before = search_fast(reader, [("q", "spark index data")],
                         SearchParams(k=10)).collect()
    assert (cat.latest_fingerprint("termstats") or "").startswith(
        "append-delta")

    compact_postings(spark, cat, CFG)
    assert cat.latest_fingerprint("termstats") == "compact"
    raw = spark.read.parquet(cat.path("termstats"))
    assert raw.groupBy("term").count().filter("count > 1").count() == 0
    # merge-on-read is now a plain scan (no aggregate needed) but still equal
    reader2 = IndexReader(spark, cat)
    after = search_fast(reader2, [("q", "spark index data")],
                        SearchParams(k=10)).collect()
    assert [(r["docid"], round(r["score"], 10)) for r in after] == \
        [(r["docid"], round(r["score"], 10)) for r in before]


def test_compact_termstats_alone_folds_deltas(spark, tmp_path):
    """compact_termstats folds delta rows WITHOUT touching postings — the
    companion to bucket-selective compact_postings on long append streams
    (postings chunks stay segmented; termstats goes back to base rows and
    merge-on-read turns itself off; results identical)."""
    cat = _build(spark, tmp_path)
    append_pages_batch(spark, _batch(spark, 20, 107, "ctdoc"), cat, CFG)
    append_pages_batch(spark, _batch(spark, 15, 108, "cudoc"), cat, CFG)
    reader = IndexReader(spark, cat)
    before = search_fast(reader, [("q", "spark index data")],
                         SearchParams(k=10)).collect()
    post_dir = cat.path("postings")
    post_files = sorted(glob.glob(f"{post_dir}/**/*.parquet", recursive=True))
    post_mtimes = [os.path.getmtime(f) for f in post_files]
    assert (cat.latest_fingerprint("termstats") or "").startswith(
        "append-delta")

    incremental.compact_termstats(spark, cat)

    assert cat.latest_fingerprint("termstats") == "compact"
    raw = spark.read.parquet(cat.path("termstats"))
    assert raw.groupBy("term").count().filter("count > 1").count() == 0
    # postings untouched: same files, same mtimes (still multi-chunk)
    assert sorted(glob.glob(f"{post_dir}/**/*.parquet",
                            recursive=True)) == post_files
    assert [os.path.getmtime(f) for f in post_files] == post_mtimes
    reader2 = IndexReader(spark, cat)
    assert not getattr(reader2, "termstats_deltas")
    after = search_fast(reader2, [("q", "spark index data")],
                        SearchParams(k=10)).collect()
    assert [(r["docid"], round(r["score"], 10)) for r in after] == \
        [(r["docid"], round(r["score"], 10)) for r in before]


def test_compact_merges_groups_spanning_arrow_batches(spark, tmp_path):
    """The compaction kernel holds an open (term, range) group across Arrow
    batch boundaries (the `held` buffer). 10 overlapping-vocab appends give
    common terms ~11 chunk rows per group; shrinking maxRecordsPerBatch to 4
    forces every such group to span batches — including the
    whole-batch-continues-the-group path. Post-compact: one chunk per
    group, identical query results."""
    cat = _build(spark, tmp_path, n=20, seed=501)
    for i in range(10):
        p = synth_pages(8, seed=510 + i, vocab_size=150)
        p["url"] = p["url"].str.replace("doc", f"sp{i}doc")
        append_pages_batch(spark, spark.createDataFrame(p), cat, CFG)
    reader = IndexReader(spark, cat)
    q = [("q", "spark index data")]
    before = [(r["docid"], round(r["score"], 10))
              for r in search_fast(reader, q, SearchParams(k=10)).collect()]
    big = (reader.postings.groupBy("term", "range_id").count()
           .filter("count >= 6").count())
    assert big > 0          # scenario is real: groups wider than the batch

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        compact_postings(spark, cat, CFG)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    reader2 = IndexReader(spark, cat)
    assert (reader2.postings.groupBy("term", "range_id").count()
            .filter("count > 1").count()) == 0
    after = [(r["docid"], round(r["score"], 10))
             for r in search_fast(reader2, q, SearchParams(k=10)).collect()]
    assert after == before


def test_merge_on_read_only_when_deltas_exist(spark, tmp_path):
    """A purely batch-built index must NOT pay the merge-on-read aggregate
    (cold-query cost contract); after an append the aggregate appears;
    after compaction it disappears again."""
    cat = _build(spark, tmp_path)

    def has_agg() -> bool:
        plan = IndexReader(spark, cat).termstats._jdf.queryExecution() \
            .optimizedPlan().toString()
        return "Aggregate" in plan

    assert not has_agg()                 # fresh batch build: plain scan
    append_pages_batch(spark, _batch(spark, 10, 110, "mrdoc"), cat, CFG)
    assert has_agg()                     # deltas present: aggregate on read
    compact_postings(spark, cat, CFG)
    assert not has_agg()                 # folded back to base rows


def test_stats_autofold_bounds_file_count(spark, tmp_path, monkeypatch):
    """stats accrues one single-row file per epoch; once the pile crosses
    _STATS_FOLD_THRESHOLD the append folds it back to one file so
    read_stats_row stays O(1) on unbounded streams. Counters must carry
    through the fold exactly."""
    monkeypatch.setattr(incremental, "_STATS_FOLD_THRESHOLD", 2)
    cat = _build(spark, tmp_path)
    for i in range(4):
        append_pages_batch(spark, _batch(spark, 5, 130 + i, f"sf{i}doc"),
                           cat, CFG)
    stats_glob = os.path.join(cat.path("stats"), "**", "*.parquet")
    # steady-state bound with two-generation retention (r4): the live fold
    # file + one parked generation (<= threshold+1) + epochs since the
    # last fold (<= threshold) — bounded, NOT base + one file per epoch
    bound = 2 * 2 + 1
    assert len(glob.glob(stats_glob, recursive=True)) <= bound
    # ...and it STAYS bounded as the stream continues
    for i in range(3):
        append_pages_batch(spark, _batch(spark, 5, 170 + i, f"sg{i}doc"),
                           cat, CFG)
    assert len(glob.glob(stats_glob, recursive=True)) <= bound
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        read_stats_row)
    srow = read_stats_row(spark, cat)
    assert int(srow["n_docs"]) == 75
    assert int(srow["next_docid"]) == 75


def test_recover_table_generalizes(spark, tmp_path):
    """ADVICE r2: a crash between the two renames of a termstats/stats swap
    must be recoverable — recover_table covers any table with an __old
    sibling, and IndexReader heals on open."""
    cat = _build(spark, tmp_path)
    for table in ("termstats", "stats"):
        final = cat.path(table)
        shutil.move(final, final + "__old")
        assert not os.path.exists(final)
        assert recover_table(cat, table) is True
        assert os.path.exists(final)
        assert recover_table(cat, table) is False   # healthy -> no-op
    # IndexReader open also self-heals
    shutil.move(cat.path("termstats"), cat.path("termstats") + "__old")
    reader = IndexReader(spark, cat)
    assert reader.termstats.count() > 0


def test_compact_passthrough_is_byte_identical(spark, tmp_path):
    """Single-chunk (term, range) groups — the vast majority after a batch
    build — must pass through compaction byte-identically (zero-copy Arrow
    path, no decode/encode round-trip)."""
    cat = _build(spark, tmp_path)
    append_pages_batch(spark, _batch(spark, 20, 106, "ptdoc"), cat, CFG)
    rows = cat.read_table(spark, "postings").collect()
    pre = {(r["term"], r["range_id"]): bytes(r["payload"]) for r in rows}
    # keys with exactly one chunk before compaction must keep their payload
    from collections import Counter
    counts = Counter((r["term"], r["range_id"]) for r in rows)
    singles = {k for k, c in counts.items() if c == 1}
    assert singles, "fixture must contain single-chunk groups"
    compact_postings(spark, cat, CFG)
    post = {(r["term"], r["range_id"]): bytes(r["payload"])
            for r in cat.read_table(spark, "postings").collect()}
    for k in singles:
        assert post[k] == pre[k], f"passthrough changed payload for {k}"


def test_batch_search_on_delta_index(spark, tmp_path):
    """The BATCH search path over a delta-bearing termstats table: results
    equal search_fast, and the df lookup both paths share filters the query
    terms BELOW the merge-on-read aggregate, so no Exchange ever carries
    the full vocabulary (the O(vocab)-shuffle-per-query trap)."""
    import re

    from text_retrieval_and_search_engines_spark.plans.query import search

    cat = _build(spark, tmp_path)
    append_pages_batch(spark, _batch(spark, 20, 130, "bsdoc"), cat, CFG)
    reader = IndexReader(spark, cat)
    assert reader.termstats_deltas

    qdf = spark.createDataFrame([("q", "spark index data")],
                                "qid string, text string")
    batch = search(reader, qdf, SearchParams(k=10)).collect()
    fast = search_fast(reader, [("q", "spark index data")],
                       SearchParams(k=10)).collect()
    assert [(r["docid"], round(r["score"], 10)) for r in batch] == \
        [(r["docid"], round(r["score"], 10)) for r in fast]

    # plan shape: the `term IN (...)` filter prints below (= feeds) every
    # HashAggregate and every Exchange of the merge-on-read view
    lines = (reader.termstats_for(["spark", "index", "data"])
             ._jdf.queryExecution().executedPlan().toString().splitlines())
    agg = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    exch = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    filt = [i for i, ln in enumerate(lines)
            if re.search(r"term#\d+ IN \(", ln)]
    assert agg and exch and filt, "\n".join(lines)
    assert max(agg + exch) < min(filt), "\n".join(lines)


def test_bucket_selective_compaction(spark, tmp_path):
    """Incremental compaction: only the buckets on the work list are
    rewritten (bounded I/O per call — the 10^9-chunk shape), other bucket
    partitions keep their exact files, termstats deltas stay (chunk
    merging preserves df/cf), and query results are unchanged. A crash in
    the bucket-swap window is recovered."""
    from text_retrieval_and_search_engines_spark.streaming.incremental import (
        buckets_needing_compaction, recover_postings_buckets)

    cat = _build(spark, tmp_path)
    append_pages_batch(spark, _batch(spark, 20, 120, "bkdoc"), cat, CFG)
    reader = IndexReader(spark, cat)
    before = search_fast(reader, [("q", "spark index data")],
                         SearchParams(k=10)).collect()

    work = buckets_needing_compaction(spark, cat)
    assert work                                  # appends made multi-chunks
    all_buckets = {
        int(d.split("=")[1])
        for d in os.listdir(cat.path("postings")) if "=" in d}
    untouched = sorted(all_buckets - set(work))
    mtimes = {}
    for b in untouched:
        d = os.path.join(cat.path("postings"), f"term_bucket={b}")
        mtimes[b] = {f: os.path.getmtime(os.path.join(d, f))
                     for f in os.listdir(d)}

    # compact HALF the work list -> only those buckets become single-chunk
    half = work[:max(1, len(work) // 2)]
    compact_postings(spark, cat, CFG, buckets=half)

    post = cat.read_table(spark, "postings")
    dup = (post.groupBy("term_bucket", "term", "range_id").count()
           .filter("count > 1").select("term_bucket").distinct().collect())
    dup_buckets = {int(r["term_bucket"]) for r in dup}
    assert dup_buckets.isdisjoint(set(half))     # compacted buckets clean
    assert set(work) - set(half) <= dup_buckets | set(work)  # rest remain

    for b in untouched:                          # untouched files identical
        d = os.path.join(cat.path("postings"), f"term_bucket={b}")
        now = {f: os.path.getmtime(os.path.join(d, f))
               for f in os.listdir(d)}
        assert now == mtimes[b]

    # termstats untouched: deltas still present, merge-on-read still active
    assert (cat.latest_fingerprint("termstats") or "").startswith(
        "append-delta")
    reader2 = IndexReader(spark, cat)
    after = search_fast(reader2, [("q", "spark index data")],
                        SearchParams(k=10)).collect()
    assert [(r["docid"], round(r["score"], 10)) for r in after] == \
        [(r["docid"], round(r["score"], 10)) for r in before]

    # finish the work list, then verify the whole table is single-chunk
    compact_postings(spark, cat, CFG, buckets=work)
    assert buckets_needing_compaction(spark, cat) == []

    # block-max metadata rebuilt by the merge must drive BMW to the exact
    # same results (bit-identical contract)
    reader3 = IndexReader(spark, cat)
    bmw = search_fast(reader3, [("q", "spark index data")],
                      SearchParams(k=10, algo="bmw")).collect()
    assert [(r["docid"], r["score"]) for r in bmw] == \
        [(r["docid"], r["score"]) for r in before]

    # crash window: bucket dir moved aside, replacement missing
    b0 = sorted(all_buckets)[0]
    live = os.path.join(cat.path("postings"), f"term_bucket={b0}")
    shutil.move(live, cat.path(f"postings__old_bucket_{b0}"))
    assert recover_postings_buckets(cat) == 1
    assert os.path.isdir(live)
    final = search_fast(IndexReader(spark, cat),
                        [("q", "spark index data")],
                        SearchParams(k=10)).collect()
    assert [(r["docid"], round(r["score"], 10)) for r in final] == \
        [(r["docid"], round(r["score"], 10)) for r in before]


def test_manifest_pruning_bounds_epoch_entries(spark, tmp_path):
    """Long-stream manifest growth is bounded: epoch markers and per-epoch
    append entries beyond the newest keep_epochs tags are pruned, while the
    newest delta entry (the merge-on-read switch) and base-build entries
    survive. Pruning runs automatically at the end of every append."""
    cat = _build(spark, tmp_path)
    base_entries = len(cat._load_manifest()["snapshots"])

    # simulate a long stream's manifest without running 200 real appends
    for i in range(200):
        tag = f"simt{i}"
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:commit",
                              "epoch_tag": tag, "tables": []})
        cat._append_snapshot({"table": "termstats",
                              "fingerprint": f"append-delta:{tag}"})
        cat._append_snapshot({"table": "stats",
                              "fingerprint": f"append:{tag}"})
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:done"})
    # one PENDING epoch (commit marker, no done): pruning must preserve it
    # — dropping the commit marker would make its already-published files
    # permanently invisible to pending_epoch_tags/recover_appends
    cat._append_snapshot({"table": "_epochs",
                          "fingerprint": "pend0:commit",
                          "epoch_tag": "pend0", "tables": []})
    dropped = cat.prune_manifest(keep_epochs=50)
    assert dropped == 150 * 4
    assert cat.pending_epoch_tags() == {"pend0"}
    # clear the synthetic pending epoch (its :done closes the protocol)
    cat._append_snapshot({"table": "_epochs", "fingerprint": "pend0:done"})
    assert not cat.pending_epoch_tags()
    snaps = cat._load_manifest()["snapshots"]
    assert len(snaps) == base_entries + 50 * 4 + 2   # +2: pend0 commit+done
    # merge-on-read switch survives: latest termstats entry is still a delta
    assert (cat.latest_fingerprint("termstats") or "").startswith(
        "append-delta")
    # base-build resumability entries survive
    assert cat.has_table("postings")
    # a REAL append triggers pruning automatically and stays consistent
    append_pages_batch(spark, _batch(spark, 5, 140, "prdoc"), cat, CFG)
    assert len(cat._load_manifest()["snapshots"]) <= base_entries + 101 * 4
    reader = IndexReader(spark, cat)
    assert reader.n_docs == 45


def test_manifest_pruning_drops_curated_epoch_markers(spark, tmp_path):
    """r6 (ADVICE r5): curated appends add per-epoch 'neardup-sigs:{tag}'
    and '{phase}-metrics:{tag}' manifest entries; pruning must retire them
    with their epoch tags (else a long curated stream grows the manifest
    ~2 entries/epoch unbounded), while entries of RETAINED epochs and
    non-epoch metrics entries survive."""
    cat = _build(spark, tmp_path)
    base_entries = len(cat._load_manifest()["snapshots"])
    for i in range(120):
        tag = f"ct{i}"
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:commit",
                              "epoch_tag": tag, "tables": []})
        cat._append_snapshot({"table": "dedup_signatures",
                              "fingerprint": f"neardup-sigs:{tag}"})
        cat._append_snapshot({"table": "metrics",
                              "fingerprint": f"curate_append-metrics:{tag}"})
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:done"})
    # non-epoch metrics entries must never be pruned
    cat._append_snapshot({"table": "metrics", "fingerprint": "curate"})
    dropped = cat.prune_manifest(keep_epochs=20)
    assert dropped == 100 * 4
    snaps = cat._load_manifest()["snapshots"]
    fps = [s["fingerprint"] for s in snaps]
    assert "neardup-sigs:ct0" not in fps
    assert "curate_append-metrics:ct0" not in fps
    assert "neardup-sigs:ct119" in fps          # retained epoch survives
    assert "curate_append-metrics:ct119" in fps
    assert "curate" in fps                      # non-epoch metrics entry
    assert len(snaps) == base_entries + 20 * 4 + 1


def test_manifest_pruning_keeps_non_epoch_metrics_markers(tmp_path):
    """Only the epoch-scoped 'curate_append-metrics:{tag}' markers retire
    with their epoch: another '...-metrics:' fingerprint whose suffix
    happens to equal a retired tag is not an epoch marker and stays."""
    cat = Catalog(str(tmp_path / "cat"))
    for i in range(3):
        tag = f"ct{i}"
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:commit",
                              "epoch_tag": tag, "tables": []})
        cat._append_snapshot({"table": "metrics",
                              "fingerprint": f"curate_append-metrics:{tag}"})
        cat._append_snapshot({"table": "_epochs",
                              "fingerprint": f"{tag}:done"})
    cat._append_snapshot({"table": "metrics",
                          "fingerprint": "report-metrics:ct0"})
    assert cat.prune_manifest(keep_epochs=1) == 2 * 3
    fps = [s["fingerprint"] for s in cat._load_manifest()["snapshots"]]
    assert "curate_append-metrics:ct0" not in fps
    assert "curate_append-metrics:ct2" in fps
    assert "report-metrics:ct0" in fps


def test_streaming_dedup_winner_deterministic(spark, tmp_path):
    """ADVICE r2: among same-batch duplicates the surviving row is the
    minimum (warc_ts, url) — not an arbitrary arrival-order artifact."""
    import pandas as pd

    from text_retrieval_and_search_engines_spark.streaming.dedup_stream import (
        dedup_exact_stream)

    inbox = str(tmp_path / "win_inbox")
    os.makedirs(inbox)
    ts = pd.Timestamp("2026-01-01")
    b0 = pd.DataFrame({
        "url": ["z-late", "a-early", "m-mid"],
        "warc_ts": [ts, ts, ts],
        "text": ["same content", "Same   CONTENT", "SAME content"]})
    spark.createDataFrame(b0).coalesce(1).write.parquet(f"{inbox}/b0.parquet")
    out_dir = str(tmp_path / "win_out")
    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, text string")
              .parquet(inbox + "/*"))
    q = (dedup_exact_stream(stream).writeStream
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "win_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1
    assert got[0]["url"] == "a-early"


# ---------------------------------------------------------------- round 4

def test_multi_table_open_pins_one_epoch_snapshot(spark, tmp_path):
    """ADVICE r3: an epoch whose done marker lands BETWEEN a reader's
    table opens must not yield a mixed pre/post-epoch view. A done-set
    captured before the epoch, passed as read_table(snapshot_done=...),
    excludes the epoch's files even after it fully publishes."""
    cat = _build(spark, tmp_path)
    snap = cat.epoch_state()[1]
    n0 = cat.read_table(spark, "docmap").count()

    append_pages_batch(spark, _batch(spark, 10, 140, "snapdoc"), cat, CFG,
                       epoch_tag="snap-e0")
    assert epoch_applied(cat, "snap-e0")

    # a fresh (unpinned) read sees the published epoch...
    assert cat.read_table(spark, "docmap").count() == n0 + 10
    # ...but every read pinned to the pre-epoch snapshot still sees the
    # exact pre-append state, table by table
    assert cat.read_table(spark, "docmap",
                          snapshot_done=snap).count() == n0
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        read_stats_row)
    assert int(read_stats_row(spark, cat, snapshot_done=snap)["n_docs"]) == n0
    assert int(read_stats_row(spark, cat)["n_docs"]) == n0 + 10
    ts_pinned = read_termstats(spark, cat, snapshot_done=snap)
    ts_now = read_termstats(spark, cat)
    assert (ts_now.agg(F.sum("cf")).collect()[0][0]
            > ts_pinned.agg(F.sum("cf")).collect()[0][0])


def test_legacy_tag_prefix_excluded_while_pending(spark, tmp_path):
    """ADVICE r3: files published under the previous release's
    '{tag}-{orig}' naming by an epoch that is still pending (crashed
    mid-move, catalog upgraded since) must be excluded from reads until
    the epoch completes."""
    cat = Catalog(str(tmp_path / "lcat"))
    cat.write_table(spark.createDataFrame([(1, "a")], "id long, v string"),
                    "tbl")
    for f in glob.glob(os.path.join(cat.path("tbl"), "*.parquet")):
        os.rename(f, os.path.join(os.path.dirname(f),
                                  "p9-" + os.path.basename(f)))
    cat._append_snapshot({"table": "_epochs", "fingerprint": "p9:commit",
                          "epoch_tag": "p9", "tables": ["tbl"]})
    assert cat.read_table(spark, "tbl",
                          schema="id long, v string").count() == 0
    cat._append_snapshot({"table": "_epochs", "fingerprint": "p9:done"})
    assert cat.read_table(spark, "tbl").count() == 1


def test_fold_stats_two_generation_retention(spark, tmp_path):
    """VERDICT r3 item 7: a fold must never unlink the files it itself
    superseded — only the files parked by the PREVIOUS fold — so a reader
    that listed the stats dir keeps every listed file on disk for at
    least one full fold generation (no list-then-scan window)."""
    import json as _json

    cat = _build(spark, tmp_path)
    for i in range(2):
        append_pages_batch(spark, _batch(spark, 5, 150 + i, f"fg{i}doc"),
                           cat, CFG)
    stats_glob = os.path.join(cat.path("stats"), "**", "*.parquet")
    listed = set(glob.glob(stats_glob, recursive=True))
    assert len(listed) >= 3          # base + 2 epochs

    incremental._fold_stats(spark, cat)
    # generation N: everything a reader could have listed is still on disk
    assert listed <= set(glob.glob(stats_glob, recursive=True))
    trash_path = os.path.join(cat.root, "_stats_trash.json")
    with open(trash_path) as f:
        assert set(_json.load(f)) == listed

    incremental._fold_stats(spark, cat)
    # generation N+1: the previous generation is retired
    for f in listed:
        assert not os.path.exists(f)
    remaining = glob.glob(stats_glob, recursive=True)
    assert 1 <= len(remaining) <= 2  # fold N (parked) + fold N+1 (live)

    from text_retrieval_and_search_engines_spark.plans.index_build import (
        read_stats_row)
    srow = read_stats_row(spark, cat)
    assert int(srow["n_docs"]) == 50
    assert int(srow["next_docid"]) == 50


def test_stream_self_compacts_past_threshold(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 3: a long append stream maintains ITSELF — once a
    postings bucket accrues more than _POSTINGS_COMPACT_SEGMENTS appended
    segment files the sink compacts that bucket, and termstats deltas past
    _TERMSTATS_COMPACT_FILES fold back to base rows — no operator call,
    bounded multi-chunk group count and read amplification."""
    monkeypatch.setattr(incremental, "_POSTINGS_COMPACT_SEGMENTS", 2)
    monkeypatch.setattr(incremental, "_TERMSTATS_COMPACT_FILES", 3)
    cat = _build(spark, tmp_path)
    n_epochs = 6
    for i in range(n_epochs):
        append_pages_batch(spark, _batch(spark, 6, 160 + i, f"ac{i}doc"),
                           cat, CFG)

    # the auto trigger actually fired (bucket-selective compaction commits)
    fps = [s["fingerprint"] for s in cat._load_manifest()["snapshots"]]
    assert any(fp.startswith("compact-buckets:") for fp in fps)

    # bounded segments: no bucket holds more than threshold+1 tagged files
    # (the +1 is the epoch appended after the last compaction)
    proot = cat.path("postings")
    for entry in os.scandir(proot):
        if not entry.name.startswith("term_bucket="):
            continue
        n_seg = sum(1 for fn in os.listdir(entry.path)
                    if fn.endswith(".parquet") and "__" in fn)
        assert n_seg <= 3, f"{entry.name} holds {n_seg} segments"

    # bounded read amplification: multi-chunk (term, range) groups exist at
    # most for the epochs appended since the last compaction
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        POSTINGS_SCHEMA)
    max_chunks = (cat.read_table(spark, "postings", schema=POSTINGS_SCHEMA)
                  .groupBy("term", "range_id").count()
                  .agg(F.max("count")).collect()[0][0])
    assert max_chunks <= 4

    # correctness through the whole self-maintaining stream
    reader = IndexReader(spark, cat)
    assert reader.n_docs == 40 + 6 * n_epochs
    full = (reader.postings.groupBy("term")
            .agg(F.sum("df_chunk").alias("df0")))
    diff = (full.join(reader.termstats, "term", "full")
            .filter(F.col("df0").isNull() | F.col("df").isNull()
                    | (F.col("df0") != F.col("df"))).count())
    assert diff == 0


def test_snapshot_is_live_manifest_semantics(tmp_path):
    """snapshot_is_live: an append marker survives until the table's next
    OVERWRITE retires it; legacy entries without a recorded mode count as
    overwrites (conservative: re-process rather than skip)."""
    cat = Catalog(str(tmp_path / "lcat"))
    cat._append_snapshot({"table": "t", "fingerprint": "base",
                          "mode": "overwrite"})
    cat._append_snapshot({"table": "t", "fingerprint": "ep:1",
                          "mode": "append"})
    assert cat.snapshot_is_live("t", "ep:1")
    assert cat.snapshot_is_live("t", "base")       # the overwrite itself
    assert not cat.snapshot_is_live("t", "ep:0")   # never written
    # other tables' overwrites don't retire t's markers
    cat._append_snapshot({"table": "u", "fingerprint": "x",
                          "mode": "overwrite"})
    assert cat.snapshot_is_live("t", "ep:1")
    # a rebuild of t retires the earlier append marker
    cat._append_snapshot({"table": "t", "fingerprint": "base",
                          "mode": "overwrite"})
    assert not cat.snapshot_is_live("t", "ep:1")
    # legacy entry with no mode field == overwrite
    cat._append_snapshot({"table": "t", "fingerprint": "ep:2",
                          "mode": "append"})
    cat._append_snapshot({"table": "t", "fingerprint": "legacy"})
    assert not cat.snapshot_is_live("t", "ep:2")
