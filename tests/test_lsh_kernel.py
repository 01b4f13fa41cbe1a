"""The banded-LSH pair kernel behind minhash_lsh_pairs,
minhash_lsh_prefiltered_pairs and minhash_neardup_vs_base, against the
pure-Python reference (tests/lsh_reference.py): non-ASCII string ids,
int/long ids, id-type errors, and a hypothesis property over ids, bar,
mode and an oversized bucket."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from lsh_reference import lsh_pairs_ref

from text_retrieval_and_search_engines_spark.operators import dedup


def _schema(id_type: str, width: int) -> str:
    return f"doc_id {id_type}, " + ", ".join(f"mh_{j} long"
                                             for j in range(width))


def _frame(spark, sigs: dict, id_type: str, width: int):
    return spark.createDataFrame([(d, *mh) for d, mh in sigs.items()],
                                 _schema(id_type, width))


def _near(rng, base, n_flip, width):
    sig = list(base)
    for j in rng.sample(range(8, width), n_flip):
        sig[j] = rng.getrandbits(40)
    return sig


UNICODE_IDS = ["https://x/é", "https://x/e", "https://x/中文", "https://x/😀",
               "https://x/a", "https://x/a?near", "ñandú", "zebra"]


def test_non_ascii_ids_self_and_cross(spark):
    """Non-ASCII string ids (accents, CJK, emoji) and a prefix pair pass
    through every pair path, oriented in UTF-8 byte order, equal to the
    reference — the kernel used to crash on them."""
    rng = random.Random(3)
    width = dedup.PREFILTER_N
    bar = dedup.prefilter_min_matches(0.8, width)
    root = [rng.getrandbits(40) for _ in range(width)]
    # near-dups of one root: 0-4 flipped components pass the bar, 14
    # fail it but still collide on every band
    flips = [0, 4, 14, 0, 0, 3, 4, 14]
    sigs = {d: _near(rng, root, f, width) for d, f in zip(UNICODE_IDS, flips)}
    df = _frame(spark, sigs, "string", width)

    pairs, _ = dedup.minhash_lsh_prefiltered_pairs(df, min_matches=bar)
    got = {tuple(r) for r in pairs.collect()}
    ref, _, _ = lsh_pairs_ref(sigs, bar=bar, width=width)
    assert got == {(a, b) for a, b, _ in ref}
    assert ("https://x/a", "https://x/a?near") in got
    assert ("https://x/e", "https://x/é") in got

    all_pairs = {tuple(r) for r in dedup.minhash_lsh_pairs(df).collect()}
    ref0, _, _ = lsh_pairs_ref(sigs)
    assert all_pairs == {(a, b) for a, b, _ in ref0}

    new = {d: sigs[d] for d in UNICODE_IDS[:3]}
    new["新しい"] = _near(rng, root, 2, width)
    vs = dedup.minhash_neardup_vs_base(
        _frame(spark, new, "string", width), df, min_matches=bar)
    got_x = {tuple(r) for r in vs.collect()}
    ref_x, _, _ = lsh_pairs_ref(new, sigs, bar=bar, width=width)
    assert got_x == ref_x
    assert all(a != b for a, b, _ in got_x)
    assert any(a == "新しい" for a, _, _ in got_x)


def test_int_and_long_ids_mix_across_sides(spark):
    """int ids on one side and long on the other are one integral order;
    each output column comes back in its side's input type."""
    width = 8
    sigs = {i: [i % 2] * width for i in range(6)}
    new = _frame(spark, {i: sigs[i] for i in range(3)}, "int", width)
    base = _frame(spark, sigs, "long", width)
    vs = dedup.minhash_neardup_vs_base(new, base, min_matches=width)
    assert vs.schema.simpleString() == \
        "struct<doc_a:int,doc_b:bigint,est_matches:int>"
    ref, _, _ = lsh_pairs_ref({i: sigs[i] for i in range(3)}, sigs,
                              bar=width, width=width)
    assert {tuple(r) for r in vs.collect()} == ref
    p = dedup.minhash_lsh_pairs(new)
    assert p.schema.simpleString() == "struct<doc_a:int,doc_b:int>"


def test_id_types_without_a_shared_order_raise(spark):
    width = 8
    s = _frame(spark, {"u1": [1] * width}, "string", width)
    n = _frame(spark, {1: [1] * width}, "long", width)
    with pytest.raises(TypeError, match="bigint and string"):
        dedup.minhash_neardup_vs_base(n, s, min_matches=1)
    d = _frame(spark, {1.5: [1] * width}, "double", width)
    with pytest.raises(TypeError, match="double"):
        dedup.minhash_lsh_pairs(d)


ID_ALPHABET = "aé中😀Zz/?"


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_pair_paths_match_reference(spark, data):
    """Pairs, est_matches, bucket sizes and the cap's drop report equal
    the reference for int or non-ASCII string ids, bar 0 or above, self
    or cross mode — with one bucket above max_bucket every time."""
    string_ids = data.draw(st.booleans(), "string_ids")
    cross = data.draw(st.booleans(), "cross")
    bar = data.draw(st.sampled_from([0, 3, 6]), "bar")
    ids_st = (st.text(ID_ALPHABET, min_size=1, max_size=4) if string_ids
              else st.integers(-2**40, 2**40))
    ids = data.draw(st.lists(ids_st, min_size=6, max_size=14, unique=True),
                    "ids")
    width, max_bucket = 8, 3
    # tiny component range: collisions in most bands; the first
    # max_bucket + 1 docs share band 0, one bucket over the cap
    sigs = {d: data.draw(st.lists(st.integers(0, 2), min_size=width,
                                  max_size=width)) for d in ids}
    for d in ids[:max_bucket + 1]:
        sigs[d][:2] = [9, 9]
    id_type = "string" if string_ids else "long"
    if cross:
        n_new = data.draw(st.integers(1, len(ids) - 1), "n_new")
        new = {d: sigs[d] for d in ids[:n_new]}
        new.update({d: sigs[d] for d in ids[-2:]})   # ids on both sides
        rep: dict = {}
        vs = dedup.minhash_neardup_vs_base(
            _frame(spark, new, id_type, width),
            _frame(spark, sigs, id_type, width), min_matches=bar,
            max_bucket=max_bucket, drop_report=rep)
        ref, _, ref_rep = lsh_pairs_ref(new, sigs, bar=bar, width=width,
                                        max_bucket=max_bucket)
        assert {tuple(r) for r in vs.collect()} == ref
        assert rep == ref_rep and rep["dropped_buckets"] >= 1
        return
    df = _frame(spark, sigs, id_type, width)
    rep = {}
    pairs, sizes = dedup.minhash_lsh_prefiltered_pairs(
        df, min_matches=bar, max_bucket=max_bucket, drop_report=rep)
    ref, ref_sizes, ref_rep = lsh_pairs_ref(sigs, bar=bar, width=width,
                                            max_bucket=max_bucket)
    assert {tuple(r) for r in pairs.collect()} == {(a, b) for a, b, _ in ref}
    assert {(r["band_id"], r["band_key"]): r["bucket_n"]
            for r in sizes.collect()} == ref_sizes
    assert rep == ref_rep and rep["dropped_buckets"] >= 1
    if bar == 0:
        rep0: dict = {}
        p0 = dedup.minhash_lsh_pairs(df, max_bucket=max_bucket,
                                     drop_report=rep0)
        assert {tuple(r) for r in p0.collect()} == \
            {(a, b) for a, b, _ in ref}
        assert rep0 == ref_rep
