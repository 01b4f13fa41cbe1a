"""Forced calls made only by traced runs, for layers no timed op runs.

* ``curate_layers`` — one forced call of each curation-DAG operator, in
  ``curate_corpus``'s stage order, over a small corpus with planted PII,
  benchmark contamination and near/exact duplicates.  Every planted doc
  must be caught and no other.
* ``append_layers`` — a curated append: base signature state (what
  ``curate_corpus(write_state=True)`` writes) plus a base index, then one
  epoch of fresh docs, planted copies of base docs and a within-batch copy
  through ``filter_appended_neardups`` and ``append_pages_batch``, a fresh
  ``IndexReader`` and a ``search_fast`` for the epoch's marker term, then a
  forced ``compact_postings`` over every bucket holding appended segments.

Inputs come from the seeded generator and are written during set-up.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.operators import (
    decontam, dedup, pii, textstats)
from text_retrieval_and_search_engines_spark.operators.curate import (
    NEARDUP_SIG_TABLE, filter_appended_neardups)
from text_retrieval_and_search_engines_spark.plans.index_build import (
    IndexConfig, build_index)
from text_retrieval_and_search_engines_spark.plans.query import (
    IndexReader, SearchParams, search_fast)
from text_retrieval_and_search_engines_spark.sources.tables import (
    TAG_SEP, Catalog)
from text_retrieval_and_search_engines_spark.streaming.incremental import (
    append_pages_batch, compact_postings)

from . import checks, inputs
from .host import dir_bytes

MEAN_TOKENS = 60
JACCARD = 0.8
MAX_LOSS = 2e-3
# curation corpus: base docs plus planted cases (disjoint targets)
CURATE_DOCS = 400
CURATE_PII = 8
CURATE_CONTAM = 4
CURATE_NEAR = CURATE_DOCS // 20     # 5 %
CURATE_EXACT = CURATE_DOCS // 50    # 2 %
BENCH_DOCS = 20
# append: base size and one epoch's batch
APPEND_BASE = 500
BATCH_FRESH = 100
BATCH_NEAR = 5
BATCH_EXACT = 2
BATCH_WITHIN = 1
INDEX_CFG = IndexConfig(langs=(), recompute_text=False,
                        materialize_docs=False)


def generate(spark, root: str, seed: int) -> dict:
    os.makedirs(root)
    rng = np.random.default_rng([seed, 2])
    n = CURATE_DOCS + BENCH_DOCS + APPEND_BASE + BATCH_FRESH
    docs = inputs.corpus(spark, n, MEAN_TOKENS, seed + 1,
                         f"https://example.org/p{seed}")
    cur = docs.iloc[:CURATE_DOCS].copy()
    bench = docs.iloc[CURATE_DOCS:CURATE_DOCS + BENCH_DOCS]
    base = docs.iloc[CURATE_DOCS + BENCH_DOCS:n - BATCH_FRESH]
    fresh = docs.iloc[n - BATCH_FRESH:].copy()

    tgt = rng.choice(CURATE_DOCS, CURATE_PII + CURATE_CONTAM + CURATE_NEAR
                     + CURATE_EXACT, replace=False)
    col = cur.columns.get_loc("text")
    for j, row in enumerate(tgt[:CURATE_PII]):
        cur.iloc[row, col] += f" mail user{j}.{seed}@example.com now"
    for j, row in enumerate(tgt[CURATE_PII:CURATE_PII + CURATE_CONTAM]):
        cur.iloc[row, col] += " " + " ".join(
            bench.iloc[j]["text"].split()[:20])
    dups = inputs.plant_dups(cur.iloc[tgt[CURATE_PII + CURATE_CONTAM:]],
                             rng, CURATE_NEAR, CURATE_EXACT, "")
    p = {"seed": seed, "root": root,
         "curate": os.path.join(root, "curate.parquet"),
         "bench": os.path.join(root, "bench.parquet"),
         "base": os.path.join(root, "base.parquet"),
         "batch": os.path.join(root, "batch.parquet")}
    inputs.write(pd.concat([cur, dups], ignore_index=True), p["curate"])
    inputs.write(bench[["url", "text"]], p["bench"])
    inputs.write(base, p["base"])

    marker = f"zmark{seed}q"
    fresh.iloc[0, col] = marker + " " + fresh.iloc[0]["text"]
    within = fresh.iloc[rng.choice(BATCH_FRESH, BATCH_WITHIN,
                                   replace=False)].copy()
    within["url"] = within["url"] + "?dup"
    planted = inputs.plant_dups(base, rng, BATCH_NEAR, BATCH_EXACT, "-e0")
    p["batch_bytes"] = inputs.write(
        pd.concat([fresh, within, planted], ignore_index=True), p["batch"])
    p["fresh_urls"] = set(fresh["url"])
    p["marker"] = marker
    return p


def _forced(out: dict, name: str, fn):
    t0 = time.perf_counter()
    res = fn()
    out[f"{name}.ms_per_op"] = (time.perf_counter() - t0) * 1e3
    return res


def curate_layers(spark, p: dict) -> tuple[dict, bool]:
    docs = spark.read.parquet(p["curate"]).withColumnRenamed("url", "doc_id")
    bench = spark.read.parquet(p["bench"])
    n_docs = docs.count()
    out, got = {}, {}
    got["pii_redacted"] = _forced(
        out, "operators.pii.pii_redact",
        lambda: pii.pii_redact(docs, keep=("text",)).filter(
            F.col("redacted") != F.col("text")).count())
    _forced(out, "operators.textstats.quality_features",
            lambda: textstats.quality_features(docs).agg(
                F.sum("quality_score")).collect())
    got["contaminated"] = _forced(
        out, "operators.decontam.contamination_stats",
        lambda: decontam.contamination_stats(docs, bench, n=13).filter(
            F.col("contaminated") == 1).count())
    got["dup_span_over_half"] = _forced(
        out, "operators.decontam.dup_span_stats",
        lambda: decontam.dup_span_stats(docs, n=10).filter(
            F.col("dup_frac") > 0.5).count())
    got["exact_dup"] = _forced(
        out, "operators.dedup.exact_dedup",
        lambda: dedup.exact_dedup(docs).agg(
            F.sum(F.col("group_size") - 1)).collect()[0][0])
    sh = dedup.char_shingles(docs).persist()
    n_sh = _forced(out, "operators.dedup.char_shingles", sh.count)
    sigs = dedup.minhash_signatures(sh, n_hashes=dedup.PREFILTER_N).persist()
    _forced(out, "operators.dedup.minhash_signatures", sigs.count)
    bar = dedup.prefilter_min_matches(JACCARD, dedup.PREFILTER_N, MAX_LOSS)
    caches: list = []

    def lsh():
        pairs, sizes = dedup.minhash_lsh_prefiltered_pairs(
            sigs, min_matches=bar, cache_registry=caches)
        pairs = pairs.persist()
        caches.append(pairs)
        coll = sizes.agg(F.coalesce(F.sum(
            F.col("bucket_n") * (F.col("bucket_n") - 1)),
            F.lit(0))).collect()[0][0] // 2
        return pairs, coll, pairs.count()
    pairs, n_coll, n_pref = _forced(
        out, "operators.dedup.minhash_lsh_prefiltered_pairs", lsh)
    n_ver = _forced(out, "operators.dedup.ngram_jaccard_pairs",
                    lambda: dedup.ngram_jaccard_pairs(
                        sh, pairs, threshold=JACCARD).select(
                            "doc_b").distinct().count())
    for df in (sh, sigs, *caches):
        df.unpersist()
    got["near_dup"] = n_ver - got["exact_dup"]
    out["operators.dedup.shingles_per_doc"] = n_sh / n_docs
    out["operators.dedup.band_collisions_per_doc"] = n_coll / n_docs
    out["operators.dedup.prefiltered_per_collision"] = n_pref / max(n_coll, 1)
    out["operators.dedup.verified_per_prefiltered"] = n_ver / max(n_pref, 1)
    for k, v in got.items():
        out[f"curate.{k}"] = v
    expect = {"pii_redacted": CURATE_PII, "contaminated": CURATE_CONTAM,
              "near_dup": CURATE_NEAR, "exact_dup": CURATE_EXACT}
    ok = all(got[k] == v for k, v in expect.items())
    if not ok:
        print(f"curate probe check failed: {got} expected {expect}",
              file=sys.stderr)
    return out, ok


def _segments(catalog: Catalog) -> dict[str, int]:
    root = catalog.path("postings")
    return {b: sum(TAG_SEP in f for f in os.listdir(os.path.join(root, b)))
            for b in os.listdir(root) if b.startswith("term_bucket=")}


def append_layers(spark, p: dict) -> tuple[dict, bool]:
    out: dict = {}
    catalog = Catalog(os.path.join(p["root"], "catalog"))
    base = spark.read.parquet(p["base"])
    t0 = time.perf_counter()
    catalog.write_table(
        dedup.minhash_signatures(dedup.char_shingles(base, id_col="url"),
                                 n_hashes=dedup.PREFILTER_N),
        NEARDUP_SIG_TABLE, fingerprint="curate-base")
    out["operators.dedup.base_signatures.s"] = time.perf_counter() - t0
    build_index(spark, base, catalog, INDEX_CFG, input_fp="probe")

    manifest = os.path.join(catalog.root, "_snapshots.json")
    m0, c0, seg0 = (os.path.getsize(manifest), dir_bytes(catalog.root),
                    _segments(catalog))
    batch = spark.read.parquet(p["batch"])
    tag = "e0000"
    t_op = time.perf_counter()
    kept, stats = _forced(
        out, "operators.curate.filter_appended_neardups",
        lambda: filter_appended_neardups(
            spark, batch, catalog, id_col="url", text_col="text",
            jaccard=JACCARD, max_loss=MAX_LOSS, update_state_tag=tag,
            metrics_tag=tag))
    info = _forced(out, "streaming.incremental.append_pages_batch",
                   lambda: append_pages_batch(spark, kept, catalog,
                                              INDEX_CFG, epoch_tag=tag))
    reader = _forced(out, "plans.query.reader_open",
                     lambda: IndexReader(spark, catalog))
    rows = _forced(out, "plans.query.search_fast.fresh_reader",
                   lambda: search_fast(reader, [("q", p["marker"])],
                                       SearchParams(k=10)).collect())
    out["append.epoch.ms"] = (time.perf_counter() - t_op) * 1e3
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    kept.unpersist()
    seg1 = _segments(catalog)
    out["streaming.incremental.compactions_per_epoch"] = float(any(
        seg1.get(b, 0) < n for b, n in seg0.items()))
    out["sources.tables.manifest_bytes_per_epoch"] = (
        os.path.getsize(manifest) - m0)
    out["append.catalog_bytes_per_input_byte"] = (
        (dir_bytes(catalog.root) - c0) / p["batch_bytes"])
    planted = BATCH_NEAR + BATCH_EXACT
    out["operators.curate.near_base_dropped_per_planted"] = (
        stats["dropped_near_base"] / planted)
    m = {r["metric"]: int(r["value"]) for r in catalog.read_table(
        spark, "metrics").filter(F.col("phase") == "curate_append").collect()}
    for k in ("dropped_near_base", "dropped_within_batch", "kept"):
        out[f"catalog.curate_append.{k}"] = m.get(k, -1)

    ok_rank, _ = checks.ranked(rows, 10)
    base_id = info["base_docid"]
    hits = [int(r["docid"]) for r in rows]
    ok = (ok_rank and kept_urls == p["fresh_urls"]
          and info["appended_docs"] == BATCH_FRESH
          and m.get("dropped_near_base") == planted
          and m.get("dropped_within_batch") == BATCH_WITHIN
          and len(hits) == 1 and base_id <= hits[0] < base_id + BATCH_FRESH)
    if not ok:
        print(f"append probe check failed: {info} {m} hits={hits}",
              file=sys.stderr)

    hot = sorted(int(b.split("=", 1)[1]) for b, n in seg1.items() if n)
    _forced(out, "streaming.incremental.compact_postings",
            lambda: compact_postings(spark, catalog, INDEX_CFG, buckets=hot))
    return out, ok
