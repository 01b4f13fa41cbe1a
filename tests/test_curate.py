"""Curation pipeline tests: planted junk corpus -> every drop reason
exercised, counts exact, metrics landed, survivors intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.operators.curate import (
    CurateConfig, curate_corpus)
from text_retrieval_and_search_engines_spark.sources.tables import Catalog

GOOD = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun")
GOOD2 = ("completely different content about spark engines and inverted "
         "indexes with postings lists and block max pruning for the win")


@pytest.fixture()
def planted(spark):
    rows = [
        (0, GOOD, "en", "s1"),
        (1, GOOD2, "en", "s1"),
        (2, "too short", "en", "s2"),                      # quality: n_words
        (3, "spam spam " * 40 + "spam", "en", "s2"),       # repetition
        (4, GOOD, "en", "s2"),                             # exact dup of 0
        (5, "  The QUICK   brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill in the afternoon sun ",
         "en", "s2"),                                      # normalized dup of 0
        (6, GOOD2.replace("win", "ages"), "en", "s3"),     # near dup of 1
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_curate_drops_every_reason_and_records_metrics(spark, planted,
                                                       tmp_path):
    cat = Catalog(str(tmp_path / "ccat"))
    curated, stats = curate_corpus(
        spark, planted, cat,
        CurateConfig(min_words=5, max_top_bigram_frac=0.3, jaccard=0.5,
                     max_bucket=0))
    ids = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    assert ids == [0, 1]
    assert stats == {"rows_in": 7, "dropped_quality": 2,
                     "dropped_contaminated": 0, "dropped_dup_spans": 0,
                     "dropped_exact_dup": 2, "dropped_near_dup": 1,
                     "rows_out": 2}
    # schema preserved, extra columns intact
    assert curated.columns == ["doc_id", "text", "lang", "source"]
    srcs = {r["doc_id"]: r["source"] for r in curated.collect()}
    assert srcs == {0: "s1", 1: "s1"}

    m = cat.read_table(spark, "metrics").collect()
    by = {(r["phase"], r["metric"]): r["value"] for r in m}
    assert by[("curate", "rows_in")] == 7
    assert by[("curate", "rows_out")] == 2
    assert by[("curate", "dropped_near_dup")] == 1
    # the LSH bucket-cap drop report landed too (cap disabled -> zeros)
    assert by[("curate_minhash_lsh", "dropped_rows")] == 0
    # ...and the estimate-prefilter report (band collisions counted,
    # bar + calibrated loss bound recorded — no silent truncation).
    # pairs_prefiltered counts distinct pairs surviving the bar: here the
    # one planted near-dup pair (1, 6), which exact verification keeps.
    assert by[("curate_minhash_prefilter", "pairs_prefiltered")] == 1
    assert by[("curate_minhash_verify", "pairs_verified")] <= \
        by[("curate_minhash_prefilter", "pairs_prefiltered")]
    assert by[("curate_minhash_prefilter", "min_matches")] == 8  # thr 0.5
    assert 0 < by[("curate_minhash_prefilter", "true_pair_loss_ppm")] <= 2000


def test_curate_near_none_and_simhash_modes(spark, planted, tmp_path):
    cat = Catalog(str(tmp_path / "ccat2"))
    _, stats = curate_corpus(
        spark, planted, cat, CurateConfig(near="none", max_bucket=0))
    assert stats["dropped_near_dup"] == 0
    assert stats["rows_out"] == 3          # near-dup of 1 survives

    _, st2 = curate_corpus(
        spark, planted, cat,
        CurateConfig(near="simhash", simhash_max_hamming=8, max_bucket=0))
    assert st2["rows_out"] <= 3            # simhash radius catches the pair

    with pytest.raises(ValueError):
        curate_corpus(spark, planted, cat, CurateConfig(near="bogus"))


def test_curate_shields_feature_name_collisions(spark, tmp_path):
    """An input column named like a computed feature (n_chars here, as in
    the driver's documents table) must pass through unchanged."""
    docs = spark.createDataFrame(
        [(0, GOOD, 999), (1, GOOD2, 123)],
        "doc_id long, text string, n_chars long")
    cat = Catalog(str(tmp_path / "ccat3"))
    curated, stats = curate_corpus(
        spark, docs, cat, CurateConfig(near="none", max_bucket=0))
    assert stats["rows_out"] == 2
    vals = {r["doc_id"]: r["n_chars"] for r in curated.collect()}
    assert vals == {0: 999, 1: 123}


def test_curate_feature_stage_is_shuffle_free(spark, planted):
    """PLANS.md claim: the quality+repetition feature stage CHAINS as
    narrow maps via keep= (no doc_id re-join) and the filters fold into
    the same map stage — the physical plan up to the flag column must
    contain NO Exchange."""
    from text_retrieval_and_search_engines_spark.operators import textstats
    feats = textstats.repetition_stats(
        textstats.quality_features(planted, keep=("text",)),
        text_col="text", keep=("text", "quality_score"))
    flagged = feats.select(
        "doc_id", "text",
        ((F.col("quality_score") >= 0.4) & (F.col("n_words") >= 5)
         & (F.col("top_bigram_frac") <= 0.3)).alias("_qual_ok"))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curate_writes_out_path(spark, planted, tmp_path):
    cat = Catalog(str(tmp_path / "ccat4"))
    out = str(tmp_path / "curated.parquet")
    _, stats = curate_corpus(
        spark, planted, cat, CurateConfig(near="none", max_bucket=0),
        out_path=out)
    back = spark.read.parquet(out)
    assert back.count() == stats["rows_out"]
    assert set(back.columns) == {"doc_id", "text", "lang", "source"}


EVAL_TEXT = ("which query planner rewrites a broadcast join into a "
             "shuffled hash join when the dimension table exceeds the "
             "configured threshold during adaptive execution")


def test_curate_optional_stages_redact_decontam_dupspan(spark, tmp_path):
    cat = Catalog(str(tmp_path / "ccat5"))
    boiler = ("all rights reserved copyright notice site map terms of "
              "service privacy policy contact us about this website here")
    rows = [
        (0, GOOD + " email me at bob@example.org please", "en", "s1"),
        (1, GOOD2, "en", "s1"),
        # benchmark leak: contains the eval doc's text verbatim
        (2, "as the eval set says " + EVAL_TEXT + " end of page",
         "en", "s2"),
        # boilerplate-heavy: two pages sharing a long tail -> dup spans
        (3, "page variant one mentions databases briefly then " + boiler,
         "en", "s3"),
        (4, "page variant two mentions compilers briefly then " + boiler,
         "en", "s3"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    bench = spark.createDataFrame([(100, EVAL_TEXT)],
                                  "doc_id long, text string")
    curated, stats = curate_corpus(
        spark, docs, cat,
        CurateConfig(near="none", max_bucket=0, redact_pii=True,
                     max_dup_frac=0.4, dup_span_ngram=8, decontam_ngram=13),
        bench=bench)
    ids = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    assert ids == [0, 1]
    assert stats["dropped_contaminated"] == 1      # doc 2
    assert stats["dropped_dup_spans"] == 2         # docs 3 and 4
    assert stats["rows_in"] == stats["rows_out"] + sum(
        v for k, v in stats.items() if k.startswith("dropped_"))
    texts = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert "<EMAIL>" in texts[0] and "bob@" not in texts[0]
    m = cat.read_table(spark, "metrics").collect()
    by = {(r["phase"], r["metric"]): r["value"] for r in m}
    assert by[("curate", "dropped_contaminated")] == 1
    assert by[("curate", "dropped_dup_spans")] == 2


def test_curate_by_url_with_non_ascii_ids(spark, tmp_path):
    """ADVICE high: one non-ASCII url among planted near-dups used to
    crash the LSH pair kernel, and with it curate-by-url. The drop
    orientation follows UTF-8 byte order: 'e' < 'é' and 'b' < '中', so
    the accented and the CJK url are the dropped twins."""
    rows = [("https://x/é", GOOD),
            ("https://x/e", GOOD.replace("sun", "suns")),
            ("https://x/b", GOOD2),
            ("https://x/中", GOOD2.replace("win", "ages"))]
    docs = spark.createDataFrame(rows, "url string, text string")
    curated, stats = curate_corpus(
        spark, docs, Catalog(str(tmp_path / "ucat")),
        CurateConfig(min_words=5, max_top_bigram_frac=0.3, jaccard=0.5,
                     max_bucket=0), id_col="url")
    urls = sorted(r["url"] for r in curated.select("url").collect())
    assert urls == ["https://x/b", "https://x/e"]
    assert stats["dropped_near_dup"] == 2 and stats["rows_out"] == 2


def _sig_dict(rows):
    return {r[0]: list(r[1:]) for r in rows}


def test_lsh_prefiltered_pairs_match_reference(spark):
    """The prefiltered pair set and the cap-surviving bucket sizes equal
    the pure-Python LSH reference (same band keys, same integer match
    bar) on clusters whose agreement both passes and fails the bar."""
    import random

    from lsh_reference import lsh_pairs_ref

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(7)
    width = dedup.PREFILTER_N
    rows = []
    # 20 clusters of 3 near-identical signatures (band-colliding) + 40
    # singletons; within clusters vary the agreement so the bar both
    # passes and fails
    for c in range(20):
        base = [rng.getrandbits(40) for _ in range(width)]
        for m in range(3):
            sig = list(base)
            n_flip = [0, width - dedup.prefilter_min_matches(0.8, width),
                      width - 8][m]          # 0 / at-bar / below-bar
            for j in rng.sample(range(8, width), n_flip):
                sig[j] = rng.getrandbits(40)
            rows.append((c * 3 + m, *sig))
    for s in range(40):
        rows.append((1000 + s, *[rng.getrandbits(40) for _ in range(width)]))
    schema = "doc_id long, " + ", ".join(f"mh_{j} long"
                                         for j in range(width))
    sigs = spark.createDataFrame(rows, schema)
    bar = dedup.prefilter_min_matches(0.8, width)

    pairs, sizes = dedup.minhash_lsh_prefiltered_pairs(sigs, min_matches=bar)
    got = sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect())
    ref, ref_sizes, _ = lsh_pairs_ref(_sig_dict(rows), bar=bar, width=width,
                                      max_bucket=dedup.DEFAULT_MAX_BUCKET)
    assert got == sorted((a, b) for a, b, _ in ref)
    assert {(r["band_id"], r["band_key"]): r["bucket_n"]
            for r in sizes.collect()} == ref_sizes
    assert len(got) >= 20      # the tight clusters survive


def test_lsh_prefiltered_pairs_kernel_string_ids(spark):
    """String doc ids (the curate-by-url path) travel through the kernel
    as UTF-8 bytes; pair set and orientation (a < b in UTF-8 byte order —
    orientation picks the DROPPED doc) equal the reference's."""
    import random

    from lsh_reference import lsh_pairs_ref

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(11)
    width = dedup.PREFILTER_N
    rows = []
    for c in range(12):
        base = [rng.getrandbits(40) for _ in range(width)]
        # url and its longer '?near' twin: prefix ordering must hold
        rows.append((f"https://x/{c:04d}", *base))
        rows.append((f"https://x/{c:04d}?near", *base))
    schema = ("doc_id string, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    sigs = spark.createDataFrame(rows, schema)
    bar = dedup.prefilter_min_matches(0.8, width)
    pairs, _ = dedup.minhash_lsh_prefiltered_pairs(sigs, min_matches=bar)
    got = sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect())
    ref, _, _ = lsh_pairs_ref(_sig_dict(rows), bar=bar, width=width)
    assert got == sorted((a, b) for a, b, _ in ref)
    assert len(got) == 12
    assert all(a < b for a, b in got)


def test_vs_base_pairs_match_reference(spark):
    """The two-sided (new x base) pairs equal the reference's
    (doc_a, doc_b, est_matches) set, with string ids (the append path's
    url keys)."""
    import random

    from lsh_reference import lsh_pairs_ref

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(5)
    width = dedup.PREFILTER_N

    def sig_rows(prefix, n, bases):
        rows = []
        for i in range(n):
            if i < len(bases):           # near-dup of base i: high overlap
                sig = list(bases[i])
                for j in rng.sample(range(8, width), 6):
                    sig[j] = rng.getrandbits(40)
            else:
                sig = [rng.getrandbits(40) for _ in range(width)]
            rows.append((f"{prefix}{i:05d}", *sig))
        return rows

    base_sigs_py = [[rng.getrandbits(40) for _ in range(width)]
                    for _ in range(15)]
    schema = ("doc_id string, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    base_rows = ([(f"base{i:05d}", *s) for i, s in enumerate(base_sigs_py)]
                 + sig_rows("basex", 25, []))
    new_rows = sig_rows("new", 30, base_sigs_py[:10])
    base = spark.createDataFrame(base_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    bar = dedup.prefilter_min_matches(0.8, width)
    df = dedup.minhash_neardup_vs_base(new, base, min_matches=bar)
    got = sorted((r["doc_a"], r["doc_b"], r["est_matches"])
                 for r in df.collect())
    ref, _, _ = lsh_pairs_ref(_sig_dict(new_rows), _sig_dict(base_rows),
                              bar=bar, width=width,
                              max_bucket=dedup.DEFAULT_MAX_BUCKET)
    assert got == sorted(ref)
    assert len(got) >= 8       # the planted near-dups matched
