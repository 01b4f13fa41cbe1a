"""Curate-DAG scale run (VERDICT r4 item 2): run the full curation DAG at
10x-100x the sf0.1 bench corpus (5k docs) with PLANTED duplicate structure,
and report the stage breakdown the 100 TB story depends on:

    band collisions (LSH) -> prefiltered (32-wide estimate) -> verified (exact
    Jaccard) -> dropped, plus bucket-cap firing and quality/exact-dup drops.

Input is a deterministic synthetic web corpus (counter-based generator, the
same one the 20M-doc index build used) written to parquet first — generation
is not the job — with planted near-dups (5%: a mutated copy with a prepended
token run, char-shingle Jaccard ~0.9) and exact dups (2%: byte-identical
copies), so prefilter selectivity and verify volume are measured at a REAL
near-dup density instead of the sf0.1 profile's template collisions.

Usage:  python curate_scale.py [n_docs]       (default 500_000 = 100x)
Prints ONE JSON line; paste the numbers into BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench import CPUS, make_spark, warmup  # noqa: E402
from text_retrieval_and_search_engines_spark.operators.curate import (  # noqa: E402
    CurateConfig, curate_corpus)
from text_retrieval_and_search_engines_spark.sources.synth_spark import (  # noqa: E402
    synth_corpus)
from text_retrieval_and_search_engines_spark.sources.tables import Catalog  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    # optional banding override "H/B" (e.g. 16/4) — the VERDICT r5 item-1
    # A/B dial; default stays the oracle-pinned 8/4
    band = sys.argv[2] if len(sys.argv) > 2 else None
    cfg = CurateConfig()
    if band:
        h, b = (int(x) for x in band.split("/"))
        cfg = CurateConfig(n_band_hashes=h, n_bands=b)
    spark = make_spark(CPUS)
    warmup(spark)

    # v2: versioned cache path (ADVICE r5) — the pmod fix changed the
    # generated corpus, and the exists-check would silently reuse a stale
    # signed-% corpus with ~1% instead of the documented 2% exact dups
    corpus_path = f"/tmp/curate_scale_v2_{n_docs}.parquet"
    if not os.path.exists(corpus_path):
        base = synth_corpus(spark, n_docs, mean_tokens=60, n_partitions=32)
        # pmod, not %: Spark's % keeps the dividend's sign, so a nonzero
        # remainder test over xxhash64 matches only positive hashes and
        # halves the intended rate (the recorded 530k run planted ~1%
        # exact dups for this reason; pmod gives the documented 2%)
        near = (base.filter(F.pmod(F.xxhash64("url"), F.lit(20)) == 0)
                .select(F.concat(F.col("url"), F.lit("?near")).alias("url"),
                        F.concat(F.lit("zq mutated prefix run xx "),
                                 F.col("text")).alias("text")))
        exact = (base.filter(F.pmod(F.xxhash64("url"), F.lit(50)) == 1)
                 .select(F.concat(F.col("url"), F.lit("?copy")).alias("url"),
                         F.col("text")))
        base.unionByName(near).unionByName(exact) \
            .write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    n_in = docs.count()

    root = "/dev/shm/curate_scale_catalog"
    shutil.rmtree(root, ignore_errors=True)
    catalog = Catalog(root)
    t0 = time.perf_counter()
    _, stats = curate_corpus(
        spark, docs, catalog, cfg,
        id_col="url", text_col="text",
        out_path="/dev/shm/curate_scale_out.parquet")
    wall = time.perf_counter() - t0

    m = {(r["phase"], r["metric"]): int(r["value"])
         for r in catalog.read_table(spark, "metrics").collect()}
    pre = lambda k: m.get(("curate_minhash_prefilter", k), 0)  # noqa: E731
    out = {
        "n_docs_in": n_in,
        "wall_sec": round(wall, 1),
        "docs_per_sec": round(n_in / wall, 1),
        "stats": stats,
        "band_collisions": pre("band_collisions_in"),
        "prefiltered": pre("band_collisions_in") - pre("candidates_pruned"),
        "verified_pairs": m.get(("curate_minhash_verify", "pairs_verified"),
                                0),
        "prefilter_bar": pre("min_matches"),
        "true_pair_loss_ppm": pre("true_pair_loss_ppm"),
        "capped_buckets": m.get(("curate_minhash_lsh", "dropped_buckets"),
                                0),
        "capped_rows": m.get(("curate_minhash_lsh", "dropped_rows"), 0),
        "cpus": CPUS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
