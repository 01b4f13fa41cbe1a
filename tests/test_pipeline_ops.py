"""Dedup / similarity / textstats / multimodal operator tests."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.operators import (
    dedup, multimodal, similarity, textstats)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "The  quick   brown fox jumps over the lazy dog"),  # ws-normalized dup
        (3, "the quick brown fox leaps over the lazy dog"),   # near dup
        (4, "completely different content about spark engines and indexes"),
        (5, "der hund und die katze sind nicht hier aber der vogel ist da"),
        (6, "le chat est dans la maison et les oiseaux sont pour le jardin"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = {r["keep_id"]: r["group_size"]
              for r in dedup.exact_dedup(docs).collect()}
    assert groups[0] == 3  # docs 0,1,2 collapse after normalization
    assert groups[3] == 1


def test_minhash_lsh_finds_near_dup(docs):
    sh = dedup.char_shingles(docs.filter("doc_id < 7"))
    sig = dedup.minhash_signatures(sh)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(sig).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs  # exact dups always collide
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(
               sh, dedup.minhash_lsh_pairs(sig)).collect()}
    assert math.isclose(jac[(0, 1)], 1.0)
    if (0, 3) in jac:
        assert 0.5 < jac[(0, 3)] < 1.0


def test_simhash_near_dup(docs):
    fps = dedup.simhash(docs.filter("doc_id < 7"))
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[0] == vals[1] == vals[2]  # identical token multisets
    ham_03 = bin(vals[0] ^ vals[3]).count("1")
    ham_04 = bin(vals[0] ^ vals[4]).count("1")
    assert ham_03 < ham_04  # near-dup closer than unrelated
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_neardup(fps, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(8)
    rows = []
    for i in range(20):
        if i == 1:
            v = base * 2.0                      # same direction as 0
        elif i == 2:
            v = base + rng.standard_normal(8) * 0.01  # near dup of 0
        else:
            v = rng.standard_normal(8)
        if i == 0:
            v = base
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk(emb):
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    top = similarity.cosine_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r["nbr_id"] for r in top][:2] in ([0, 1], [1, 0])
    assert math.isclose(top[0]["cosine"], 1.0, abs_tol=1e-9)
    assert top[2]["nbr_id"] == 2  # near-dup third


def test_cosine_neardup_pairs(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.cosine_neardup_pairs(emb, 0.95).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs


def test_lsh_buckets_group_near_dups(emb):
    b = {r["vec_id"]: r["bucket"]
         for r in similarity.lsh_buckets(emb, n_planes=8, seed=1).collect()}
    assert b[0] == b[1] == b[2]  # colinear vectors share all sign bits


def test_lsh_cosine_topk_recall(emb):
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding")
    approx = similarity.lsh_cosine_topk(emb, q, k=3, n_planes=4, seed=1).collect()
    ids = {r["nbr_id"] for r in approx}
    assert {0, 1, 2} <= ids  # bucket contains the colinear trio


def test_language_id(docs):
    got = {r["doc_id"]: r["lang_guess"]
           for r in textstats.language_id(docs).collect()}
    assert got[0] == "en"
    assert got[5] == "de"
    assert got[6] == "fr"
    assert got[7] == "und"


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in textstats.quality_features(docs).collect()}
    assert q[0]["n_words"] == 9
    assert q[7]["quality_score"] < q[4]["quality_score"]
    t = {r["doc_id"]: r for r in textstats.token_counts(docs).collect()}
    assert t[0]["ws_tokens"] == 9
    assert t[0]["bpe_tokens"] == sum(
        -(-len(w) // 4) for w in
        "the quick brown fox jumps over the lazy dog".split())
    assert t[7]["ws_tokens"] == 0


def test_fingerprints(docs):
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1] == fp[2]
    assert fp[0] != fp[3]
    wf = {r["doc_id"]: set(r["fingerprints"])
          for r in textstats.winnowing_fingerprints(docs).collect()}
    assert wf[0] == wf[1]
    inter = len(wf[0] & wf[3]) / len(wf[0] | wf[3])
    assert inter > 0.5  # near-dup shares most winnowed hashes
    assert len(wf[0] & wf[4]) / len(wf[0] | wf[4]) < 0.2


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, 30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    # determinism: same payload -> same features
    f2 = multimodal.extract_features(multimodal.synth_media(spark, 30)).collect()
    assert {r["media_id"]: r["features"] for r in feats} == \
           {r["media_id"]: r["features"] for r in f2}
    resized = multimodal.resize_images(media, 8, 8).collect()
    assert all(r["width"] == 8 for r in resized)
    frames = multimodal.sample_frames(media, every_ms=5000)
    n_video = media.filter("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == n_video
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", fake=False)


def test_lsh_multiprobe_recall(spark):
    """VERDICT r1 item 9: multi-probe recall >= 0.9 at n_planes=16.

    10 planted clusters: each query has 3 near-neighbors at cosine ~0.998
    (expected sign-bit Hamming distance << 2), so probing radius 2 must
    recover >= 90% of the exact top-3 that single-probe misses whenever a
    plane splits the cluster."""
    rng = np.random.default_rng(5)
    rows, qrows = [], []
    dim, vid = 12, 0
    for qi in range(10):
        center = rng.standard_normal(dim)
        qrows.append((f"q{qi}", [float(x) for x in center]))
        for _ in range(3):
            v = center + rng.standard_normal(dim) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # background noise vectors
    for _ in range(60):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(qrows, "qid string, embedding array<double>")

    exact = similarity.cosine_topk(emb, q, k=3).collect()
    approx = similarity.lsh_cosine_topk(emb, q, k=3, n_planes=16, seed=1,
                                        n_probes=2).collect()
    exact_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["nbr_id"])
    approx_sets: dict = {}
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["nbr_id"])
    hits = sum(len(exact_sets[k] & approx_sets.get(k, set()))
               for k in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.9

    # VERDICT r2 item 7: margin-ordered probing reaches the same recall
    # bar with <= 1/3 the probe fan-out of blind radius-2 (which enumerates
    # 1 + 16 + C(16,2) = 137 buckets/query at n_planes=16)
    radius2_fanout = 1 + 16 + (16 * 15) // 2
    budget = radius2_fanout // 3
    margin = similarity.lsh_cosine_topk_margin(
        emb, q, k=3, n_planes=16, seed=1, probe_budget=budget).collect()
    m_sets: dict = {}
    for r in margin:
        m_sets.setdefault(r["qid"], set()).add(r["nbr_id"])
    m_hits = sum(len(exact_sets[k] & m_sets.get(k, set()))
                 for k in exact_sets)
    assert m_hits / total >= 0.9
    assert m_hits >= hits            # no worse than blind radius-2


def test_lsh_margin_probe_fanout_is_budgeted(spark):
    """The probe generator emits exactly probe_budget buckets per query,
    home bucket included (the scale contract: fan-out multiplies only the
    broadcast query side and is a constant, not C(n_planes, r))."""
    rng = np.random.default_rng(9)
    q = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in rng.standard_normal(10)])
         for i in range(4)], "qid string, embedding array<double>")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(10)])
         for i in range(20)], "vec_id long, embedding array<double>")
    # count scored (qid, nbr) pairs <= budget * bucket sizes; directly check
    # the probe rows by reusing the kernel through a tiny budget
    res = similarity.lsh_cosine_topk_margin(
        emb, q, k=20, n_planes=8, seed=3, probe_budget=1).collect()
    single = similarity.lsh_cosine_topk(
        emb, q, k=20, n_planes=8, seed=3, n_probes=0).collect()
    key = lambda rows: {(r["qid"], r["nbr_id"]) for r in rows}
    assert key(res) == key(single)   # budget=1 == home bucket only


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """VERDICT r1 item 5: an all-identical corpus forms one mega-bucket;
    with max_bucket set the quadratic self-join is skipped for it while
    normal near-dup pairs on the non-degenerate remainder still emerge."""
    rows = [(i, "lorem ipsum dolor sit amet " * 5) for i in range(50)]
    rows += [(100, "a genuinely unique document about spark engines"),
             (101, "a genuinely unique document about spark engine")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.char_shingles(docs)
    sig = dedup.minhash_signatures(sh)
    pairs = dedup.minhash_lsh_pairs(sig, max_bucket=10).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # the 50-doc mega-bucket is dropped (0 of its ~1225 pairs) ...
    assert not any(a < 100 and b < 100 for a, b in got)
    # ... but the small near-dup bucket still pairs up
    assert (100, 101) in got

    fps = dedup.simhash(docs)
    nd = dedup.simhash_neardup(fps, max_hamming=8, max_bucket=10).collect()
    nd_pairs = {(r["doc_a"], r["doc_b"]) for r in nd}
    assert not any(a < 100 and b < 100 for a, b in nd_pairs)
    assert (100, 101) in nd_pairs


def test_lsh_bucket_cap_defaults_on_and_reports_drops(spark):
    """VERDICT r2 item 5: the cap is on by default (scale profile) and the
    dropped volume is counted, not silently swallowed."""
    assert dedup.DEFAULT_MAX_BUCKET > 0
    rows = [(i, "lorem ipsum dolor sit amet " * 5) for i in range(50)]
    rows += [(100, "a genuinely unique document about spark engines"),
             (101, "a genuinely unique document about spark engine")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures(dedup.char_shingles(docs))

    report: dict = {}
    pairs = dedup.minhash_lsh_pairs(sig, max_bucket=10,
                                    drop_report=report).collect()
    assert report["max_bucket"] == 10
    assert report["dropped_buckets"] >= 1          # the 50-doc mega-bucket
    assert report["dropped_rows"] >= 50
    assert (100, 101) in {(r["doc_a"], r["doc_b"]) for r in pairs}

    # below the default cap nothing is dropped and the report says so
    report2: dict = {}
    dedup.minhash_lsh_pairs(sig, drop_report=report2).collect()
    assert report2["max_bucket"] == dedup.DEFAULT_MAX_BUCKET
    assert report2["dropped_buckets"] == 0
    assert report2["dropped_rows"] == 0

    report3: dict = {}
    dedup.simhash_neardup(dedup.simhash(docs), max_hamming=8, max_bucket=10,
                          drop_report=report3).collect()
    assert report3["dropped_buckets"] >= 1


def test_ivf_cosine_topk_recall_and_determinism(spark):
    """IVF scale path: train a deterministic spherical-kmeans quantizer as
    DataFrame aggregates, probe n_probe cells, recall >= 0.9 on planted
    clusters; two runs produce identical results at any parallelism."""
    rng = np.random.default_rng(17)
    rows, qrows = [], []
    dim, vid = 12, 0
    for qi in range(8):
        center = rng.standard_normal(dim)
        qrows.append((f"q{qi}", [float(x) for x in center]))
        for _ in range(4):
            v = center + rng.standard_normal(dim) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(40):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(qrows, "qid string, embedding array<double>")

    exact = similarity.cosine_topk(emb, q, k=4).collect()
    a1 = similarity.ivf_cosine_topk(emb, q, k=4, n_centroids=8, n_probe=3,
                                    seed=7).collect()
    a2 = similarity.ivf_cosine_topk(emb, q, k=4, n_centroids=8, n_probe=3,
                                    seed=7).collect()
    key = lambda r: (r["qid"], r["rank"])
    assert {key(r): r["nbr_id"] for r in a1} == \
        {key(r): r["nbr_id"] for r in a2}          # deterministic

    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r["qid"], set()).add(r["nbr_id"])
    for r in a1:
        ap.setdefault(r["qid"], set()).add(r["nbr_id"])
    hits = sum(len(ex[k0] & ap.get(k0, set())) for k0 in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9


def test_ivf_training_is_one_pass_per_iteration(spark):
    """VERDICT r2 item 2: each Lloyd iteration must touch the corpus EXACTLY
    once (assign + per-centroid partial sums fused in one kernel) — no
    assignment join, no dim-wide aggregate re-scan. Counted with a Spark
    accumulator inside the training kernel."""
    rng = np.random.default_rng(23)
    n, dim, iters = 120, 8, 3
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    acc = spark.sparkContext.accumulator(0)
    cents = similarity.ivf_centroids(emb, n_centroids=6, seed=7, iters=iters,
                                     row_counter=acc)
    assert acc.value == iters * n     # one corpus scan per iteration, exactly
    assert cents.shape == (6, dim)
    # centers are unit-norm (spherical k-means contract)
    norms = np.linalg.norm(cents, axis=1)
    assert np.allclose(norms[norms > 1e-9], 1.0)


# ---------------------------------------------------------------- round 4

def test_ivf_materialized_assignments_skip_corpus_rescan(spark, monkeypatch):
    """VERDICT r3 item 4: with a materialized (vec_id, centroid_id) table
    supplied, a query batch must NOT re-derive cell assignments — zero
    corpus re-assignment scans. Pinned by making the assignment kernel
    unreachable and checking results are identical."""
    rng = np.random.default_rng(29)
    dim = 10
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in rng.standard_normal(dim)])
         for i in range(4)], "qid string, embedding array<double>")

    cents = similarity.ivf_centroids(emb, n_centroids=6, seed=7, iters=2)
    assigned = similarity.ivf_assignments(emb, cents)
    # materialize the assignment table (the real-deployment shape)
    assigned_rows = assigned.collect()
    cell = spark.createDataFrame(assigned_rows,
                                 "vec_id long, centroid_id int")

    want = similarity.ivf_cosine_topk(emb, q, k=3, centroids=cents,
                                      assignments=cell).collect()

    def boom(*a, **kw):
        raise AssertionError("corpus re-assignment scan ran")

    monkeypatch.setattr(similarity, "ivf_assignments", boom)
    got = similarity.ivf_cosine_topk(emb, q, k=3, centroids=cents,
                                     assignments=cell).collect()
    key = lambda r: (r["qid"], r["rank"])
    assert {key(r): r["nbr_id"] for r in got} == \
        {key(r): r["nbr_id"] for r in want}


def test_lsh_dim_param_skips_probe_job(spark, monkeypatch):
    """VERDICT r3 item 4/minor: callers that know the embedding width must
    not pay a one-row probe job per call — with dim= given, neither LSH
    top-k path may call DataFrame.first at plan time."""
    rng = np.random.default_rng(31)
    dim = 8
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [("q0", [float(x) for x in rng.standard_normal(dim)])],
        "qid string, embedding array<double>")

    want = similarity.lsh_cosine_topk_margin(
        emb, q, k=3, n_planes=6, seed=1, probe_budget=8).collect()

    from pyspark.sql import DataFrame as _DF
    monkeypatch.setattr(_DF, "first",
                        lambda self: (_ for _ in ()).throw(
                            AssertionError("dim probe job ran")))
    got = similarity.lsh_cosine_topk_margin(
        emb, q, k=3, n_planes=6, seed=1, probe_budget=8, dim=dim).collect()
    got2 = similarity.lsh_cosine_topk(
        emb, q, k=3, n_planes=6, seed=1, dim=dim).collect()
    assert len(got2) > 0
    key = lambda r: (r["qid"], r["rank"])
    assert {key(r): r["nbr_id"] for r in got} == \
        {key(r): r["nbr_id"] for r in want}


def test_dedup_drop_report_lands_in_metrics_table(spark, tmp_path):
    """VERDICT r3 item 6: the bucket-cap drop volume must land in the
    catalog's metrics table via the pipeline-path wrappers, so silent
    truncation can never read as full coverage."""
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog

    docs = spark.createDataFrame(
        [(i, "identical boilerplate text shared by every doc")
         for i in range(12)] + [(100, "a genuinely unique document")],
        "doc_id long, text string")
    sig = dedup.minhash_signatures(dedup.char_shingles(docs))

    cat = Catalog(str(tmp_path / "mcat"))
    pairs = dedup.minhash_lsh_pairs_with_metrics(
        spark, cat, sig, max_bucket=5)
    pairs.collect()

    m = cat.read_table(spark, "metrics").collect()
    by_metric = {r["metric"]: r["value"] for r in m
                 if r["phase"] == "dedup_minhash_lsh"}
    assert by_metric["dropped_buckets"] >= 1
    assert by_metric["dropped_rows"] >= 12
    assert by_metric["max_bucket"] == 5

    # simhash wrapper appends alongside (history accrues, mode=append)
    dedup.simhash_neardup_with_metrics(
        spark, cat, dedup.simhash(docs), max_hamming=8,
        max_bucket=5).collect()
    phases = {r["phase"] for r in cat.read_table(spark, "metrics").collect()}
    assert phases == {"dedup_minhash_lsh", "dedup_simhash"}


# ---------------------------------------------------------------------------
# round-4 continuation: repetition stats / source mix / pinned IVF choices
# ---------------------------------------------------------------------------

def test_repetition_stats_hand_computed(spark):
    """Gopher-style word-repetition features against hand-derived values:
    doc 'a a a b' -> 4 words, 2 types, top unigram 3/4, bigrams
    ('a a','a a','a b') -> top bigram 2/3, H = ln4 - (3 ln3)/4."""
    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "x"), (2, ""), (3, "w1 w2 w3 w4")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.repetition_stats(docs).collect()}

    r = out[0]
    assert r["n_words"] == 4 and r["n_types"] == 2
    assert r["type_token_ratio"] == 0.5
    assert r["top_unigram_frac"] == 0.75
    assert r["top_bigram_frac"] == round(2 / 3, 6)
    assert r["unigram_entropy"] == round(
        math.log(4) - (3 * math.log(3)) / 4, 6)

    # single word: no bigrams -> 0.0; entropy of one type = 0
    assert out[1]["n_words"] == 1 and out[1]["top_bigram_frac"] == 0.0
    assert out[1]["unigram_entropy"] == 0.0
    # empty doc: everything 0, no nulls
    assert out[2]["n_words"] == 0 and out[2]["type_token_ratio"] == 0.0
    # all-distinct doc: ttr 1, top shares minimal, H = ln(n)
    assert out[3]["type_token_ratio"] == 1.0
    assert out[3]["unigram_entropy"] == round(math.log(4), 6)


def test_repetition_stats_is_shuffle_free(spark):
    """The 100x claim: per-doc repetition features are a pure map stage
    (array_sort + one aggregate pass) — the physical plan must contain NO
    exchange."""
    docs = spark.createDataFrame([(0, "a b a")], "doc_id long, text string")
    plan = (textstats.repetition_stats(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_source_mix_shares(spark):
    docs = spark.createDataFrame(
        [(0, "t", "en", "s1", 10), (1, "t", "en", "s1", 20),
         (2, "t", "de", "s1", 30), (3, "t", "en", "s2", 40)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = {(r["source"], r["lang"]): r for r in
            textstats.source_mix(docs).collect()}
    assert rows[("s1", "en")]["n_docs"] == 2
    assert rows[("s1", "en")]["tot_chars"] == 30
    assert rows[("s1", "en")]["share_of_source"] == round(2 / 3, 6)
    assert rows[("s2", "en")]["share_of_source"] == 1.0
    # shares within each source sum to 1
    s1 = sum(v["share_of_source"] for k, v in rows.items() if k[0] == "s1")
    assert abs(s1 - 1.0) < 1e-9


def test_ivf_sim_round_pins_ties_to_lowest_centroid(spark):
    """With sim_round set, equal (rounded) similarities must resolve to the
    LOWEST centroid_id in both the assignment argmax and the probe-cell
    selection — the (sim DESC, id ASC) convention a SQL twin ranks by."""
    # two IDENTICAL centroids: every vector ties; must assign/probe c0 first
    cents = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    emb = spark.createDataFrame(
        [(0, [1.0, 0.05]), (1, [0.9, 0.1]), (2, [0.05, 1.0])],
        "vec_id long, embedding array<double>")
    assign = {r["vec_id"]: r["centroid_id"] for r in
              similarity.ivf_assignments(emb, cents, sim_round=6).collect()}
    assert assign[0] == 0 and assign[1] == 0 and assign[2] == 2

    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              "qid long, embedding array<double>")
    top = similarity.ivf_cosine_topk(
        emb, q, k=3, n_probe=2, centroids=cents, sim_round=6).collect()
    # probes c0 (tie winner) then c1 (empty cell): only docs 0 and 1 reachable
    assert sorted(r["nbr_id"] for r in top) == [0, 1]
    # cosine values are 6dp-rounded (ranking happened over rounded scores)
    for r in top:
        assert r["cosine"] == round(r["cosine"], 6)


def test_cap_buckets_match_reference(spark):
    """The default-on bucket cap sizes buckets with one count-over-window
    column; the capped pair set and the drop report equal the
    pure-Python LSH reference's, with the cap really firing."""
    from lsh_reference import lsh_pairs_ref

    rows = [(i, "dup dup dup common boilerplate text here")
            for i in range(30)]
    rows += [(100 + i, f"unique document number {i} with words {i * 7}")
             for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.char_shingles(d)).cache()
    try:
        rep: dict = {}
        df = dedup.minhash_lsh_pairs(sigs, max_bucket=10, drop_report=rep)
        got = sorted(tuple(r) for r in df.collect())
        ref, _, ref_rep = lsh_pairs_ref(
            {r["doc_id"]: [r[f"mh_{j}"] for j in range(dedup.MINHASH_N)]
             for r in sigs.collect()}, max_bucket=10)
        assert got == sorted((a, b) for a, b, _ in ref)
        assert rep == ref_rep
        assert rep["dropped_rows"] > 0  # cap really fired
    finally:
        sigs.unpersist()


def test_sig_prefilter_preserves_verified_pairs_and_prunes(spark, docs):
    """The estimate prefilter must (a) pass every pair the exact verify
    accepts at the threshold, (b) actually prune estimate-implausible
    candidates fed to the shingle join."""
    sub = docs.filter("doc_id < 7")
    sh = dedup.char_shingles(sub)
    sig = dedup.minhash_signatures(sh).persist()
    pairs = dedup.minhash_lsh_pairs(sig)
    # union in implausible candidates LSH would never emit (unrelated docs)
    fake = spark.createDataFrame([(0, 5), (0, 6), (3, 6), (4, 5)],
                                 "doc_a long, doc_b long")
    all_pairs = pairs.union(fake).distinct()
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.ngram_jaccard_pairs(
                 sh, all_pairs, threshold=0.8).collect()}
    with_pref = {(r["doc_a"], r["doc_b"])
                 for r in dedup.ngram_jaccard_pairs(
                     sh, all_pairs, threshold=0.8, sigs=sig).collect()}
    assert with_pref == exact          # no verified pair lost
    kept = dedup.sig_prefilter_pairs(
        all_pairs, sig, dedup.prefilter_min_matches(0.8, 8)).collect()
    n_kept = len(kept)
    assert n_kept < all_pairs.count()  # the fakes are pruned pre-verify
    assert {(r["doc_a"], r["doc_b"]) for r in kept} >= exact
    # the wide estimate signature prunes at least as hard, still losslessly
    sig32 = dedup.minhash_signatures(sh, n_hashes=32)
    kept32 = {(r["doc_a"], r["doc_b"])
              for r in dedup.sig_prefilter_pairs(
                  all_pairs, sig32,
                  dedup.prefilter_min_matches(0.8, 32)).collect()}
    assert len(kept32) <= n_kept and kept32 >= exact
    sig.unpersist()


def test_prefilter_bar_is_loss_calibrated():
    """The bar is the largest k whose exact binomial true-pair loss stays
    under max_loss, and the loss function reports that exact tail."""
    import math

    def cdf_below(k, n, p):
        return sum(math.comb(n, j) * p ** j * (1 - p) ** (n - j)
                   for j in range(k))

    for thr, n in [(0.8, 32), (0.8, 8), (0.5, 16), (0.9, 32)]:
        bar = dedup.prefilter_min_matches(thr, n)
        loss = dedup.prefilter_true_pair_loss(thr, n, bar)
        assert loss == pytest.approx(cdf_below(bar, n, thr))
        assert loss <= 2e-3
        if bar < n:  # one step tighter would exceed the bound
            assert cdf_below(bar + 1, n, thr) > 2e-3
    # the shipped defaults: 19-of-32 at threshold 0.8, above the
    # rows-per-band collision floor so banded candidates CAN be pruned
    assert dedup.prefilter_min_matches(0.8) == 19
    assert dedup.prefilter_min_matches(0.8) > dedup.MINHASH_N // dedup.LSH_BANDS
    # when NO bar meets the bound (low threshold, narrow signature) the
    # answer is 0 = prune nothing, never a loss-violating fallback
    assert dedup.prefilter_min_matches(0.01, 8) == 0
    assert dedup.prefilter_min_matches(0.3, 8) == 0


def test_zero_bar_prefilter_is_a_noop(spark, docs):
    sub = docs.filter("doc_id < 7")
    sh = dedup.char_shingles(sub)
    sig = dedup.minhash_signatures(sh)
    pairs = dedup.minhash_lsh_pairs(sig)
    kept = dedup.sig_prefilter_pairs(pairs, sig, 0)
    assert kept.count() == pairs.count()
    # threshold too low for the width -> ngram_jaccard_pairs prunes
    # nothing rather than silently dropping true pairs
    nopref = dedup.ngram_jaccard_pairs(sh, pairs, threshold=0.3).collect()
    withsig = dedup.ngram_jaccard_pairs(sh, pairs, threshold=0.3,
                                        sigs=sig).collect()
    assert sorted(map(tuple, nopref)) == sorted(map(tuple, withsig))


def test_sig_prefilter_passes_pairs_with_missing_signatures(spark):
    """ADVICE r4: the public ngram_jaccard_pairs(sigs=...) API accepts
    externally-built candidate pairs; a pair referencing a doc_id absent
    from the sigs frame must pass THROUGH the estimate prefilter to the
    exact verify, never be silently pruned."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon words shared by this pair ok"),
         (1, "alpha beta gamma delta epsilon words shared by this pair yes")],
        "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.char_shingles(docs),
                                    n_hashes=dedup.PREFILTER_N)
    # external pairs: one in-sigs pair + two referencing doc 7 (no sigs)
    pairs = spark.createDataFrame([(0, 1), (0, 7), (7, 9)],
                                  "doc_a long, doc_b long")
    kept = {(r["doc_a"], r["doc_b"])
            for r in dedup.sig_prefilter_pairs(pairs, sigs, 19).collect()}
    assert (0, 7) in kept and (7, 9) in kept          # pass-through
    assert (0, 1) in kept                             # near-identical pair

    # and the exact verify then decides: docs without shingles simply
    # produce no jaccard row (inner join on shingles), with no crash
    sh = dedup.char_shingles(docs)
    out = {(r["doc_a"], r["doc_b"])
           for r in dedup.ngram_jaccard_pairs(
               sh, pairs, threshold=0.5, sigs=sigs).collect()}
    assert (0, 1) in out and (0, 7) not in out


def test_cap_bucket_report_shares_the_window_count(spark):
    """VERDICT r4 item 6: the drop report derives from the SAME
    count-over-window column the cap filters on — the sized frame is
    persisted by the report pass, so the downstream pair kernel reads the
    cache (InMemoryTableScan) instead of recomputing the bucket
    subtree."""
    from lsh_reference import lsh_pairs_ref

    rows = [(i, "mega bucket boilerplate text identical") for i in range(30)]
    rows += [(100 + i, f"unique doc {i} tail {i * 13}") for i in range(5)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.char_shingles(d))
    caches: list = []
    rep: dict = {}
    pairs = dedup.minhash_lsh_pairs(sigs, max_bucket=10, drop_report=rep,
                                    cache_registry=caches)
    try:
        assert rep["dropped_rows"] >= 30 and rep["dropped_buckets"] >= 1
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert len(caches) == 1 and caches[0].is_cached
        # report must equal the reference's bucket-size derivation
        _, _, ref_rep = lsh_pairs_ref(
            {r["doc_id"]: [r[f"mh_{j}"] for j in range(dedup.MINHASH_N)]
             for r in sigs.collect()}, max_bucket=10)
        assert ref_rep == rep
    finally:
        for c in caches:
            c.unpersist()
