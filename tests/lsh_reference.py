"""Pure-Python banded-LSH pair reference: the test oracle for the Spark
pair kernel behind minhash_lsh_pairs, minhash_lsh_prefiltered_pairs and
minhash_neardup_vs_base. Same md5 band key over "|".join(str(mh)), same
bucket cap (on the base side in cross mode), same match bar and the same
orientation (a < b in self mode, a != b in cross mode)."""

from __future__ import annotations

import hashlib
from collections import defaultdict


def lsh_pairs_ref(new: dict, base: dict | None = None, bar: int = 0,
                  width: int = 0, n_hashes: int = 8, bands: int = 4,
                  max_bucket: int = 0):
    """`new`/`base` map doc_id -> signature list. Returns (pairs, sizes,
    report): pairs is {(doc_a, doc_b, est_matches)} over the first `width`
    components, sizes {(band_id, band_key): n} of the cap-surviving
    buckets, report the cap's drop counts."""
    def buckets(sigs):
        out = defaultdict(list)
        rpb = n_hashes // bands
        for d, mh in sigs.items():
            for b in range(bands):
                key = "|".join(str(x) for x in mh[b * rpb:(b + 1) * rpb])
                out[(b, hashlib.md5(key.encode()).hexdigest())].append(d)
        return out

    capped = buckets(new if base is None else base)
    over = [k for k, v in capped.items() if 0 < max_bucket < len(v)]
    report = {"dropped_buckets": len(over),
              "dropped_rows": sum(len(capped.pop(k)) for k in over),
              "max_bucket": max(max_bucket, 0)}
    left = capped if base is None else buckets(new)
    sig_b = new if base is None else base
    pairs = set()
    for key, members in left.items():
        for a in members:
            for b in capped.get(key, ()):
                m = sum(x == y for x, y in
                        zip(new[a][:width], sig_b[b][:width]))
                if m >= bar and (a < b if base is None else a != b):
                    pairs.add((a, b, m))
    return pairs, {k: len(v) for k, v in capped.items()}, report
