"""Output checks shared by the workloads.  Each returns (ok, digest): ok is
False on any violated invariant, digest pins the output bit for bit."""

from __future__ import annotations

import hashlib
from collections import defaultdict


def ranked(rows, k: int) -> tuple[bool, str]:
    """Ranked (qid, docid, score, rank) rows: at most k rows per qid,
    ranks 1..n without gaps, and the pinned (score DESC, docid ASC) order."""
    by_qid: dict[str, list] = defaultdict(list)
    for r in rows:
        by_qid[r["qid"]].append((int(r["rank"]), -float(r["score"]),
                                 int(r["docid"])))
    ok = True
    h = hashlib.sha256()
    for qid in sorted(by_qid):
        hits = sorted(by_qid[qid])
        ok &= len(hits) <= k
        ok &= [r for r, _, _ in hits] == list(range(1, len(hits) + 1))
        keys = [(s, d) for _, s, d in hits]
        ok &= all(a < b for a, b in zip(keys, keys[1:]))
        for rank, s, d in hits:
            h.update(f"{qid}\t{rank}\t{d}\t{-s!r}\n".encode())
    return bool(ok), h.hexdigest()
