"""BM25 / RM3 query execution (SURVEY.md §3 "query job", M3-M4).

Reference semantics: Pyserini/Lucene BM25 with k1=0.9, b=0.4
(``final-project/src/bm25_retrieval.py:45-135``, defaults
``src/config.py:53-55``), disjunctive OR over query terms, top-k=1000,
optional RM3 feedback (fb_docs=10, fb_terms=10, original_query_weight=0.5,
``src/bm25_retrieval.py:119-123``). Batch search is the native Spark shape
(the reference fakes it with an 8-thread pool, ``src/bm25_retrieval.py:138-178``).

Plan (search, search_terms and search_fast share it):
  queries --collect once, pinned analyzer on the driver--> [search_fast:
      (qid, term, weight); a repeated (qid, term) summed     no job]
  terms --reader.df_lookup memo--> df                      [0 jobs warm]
  qt = local relation (pandas -> Arrow), n_qterms per qid  [no Python]
  postings --term_bucket IN (driver list)-->               [static pruning]
         --broadcast-join qt--> matched (qid x term chunks)
  matched --repartition(qid, range_id) Arrow kernel-->     [ONE shuffle]
      AQE sizes the scoring stage from the measured shuffle bytes;
      decode chunks, accumulate float64 scores in lexicographic term order
      (pinned summation order = oracle), local top-k
  --window rank (score DESC, docid ASC) <= k-->            [tiny shuffle]
      global top-k merge ("partition-parallel score-then-global-merge").

Collection stats (N, avgdl, per-term df) travel as broadcast values; doc
lengths ride inline in postings payloads — scoring never shuffles
document-length data (north_star).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.text import term_freqs, tokenize, tokenize_series
from ..sources.tables import Catalog

K1_DEFAULT = 0.9   # reference src/config.py:53-55
B_DEFAULT = 0.4

SCORED_SCHEMA = "qid string, docid long, score double"


@dataclass(frozen=True)
class SearchParams:
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    k: int = 1000                 # retrieval depth (reference default)
    mode: str = "or"              # "or" = disjunctive | "and" = intersection
    algo: str = "exact"           # "exact" = exhaustive vectorized scoring |
                                  # "bmw" = block-max WAND pruning (identical
                                  # results, proven by property test)


class IndexReader:
    """Loads the catalog tables once and caches driver-side scalars."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        from .index_build import POSTINGS_SCHEMA
        # merge-on-read: appended termstats delta rows aggregate lazily;
        # a purely batch-built index reads the base table with no extra agg
        from ..streaming.incremental import (read_termstats,
                                             recover_postings_buckets,
                                             recover_table)
        for t in ("stats", "termstats"):
            recover_table(catalog, t)   # heal an interrupted swap on open
        if not catalog.use_iceberg and "://" not in catalog.root:
            recover_postings_buckets(catalog)
        # Freeze the epoch snapshot for the whole multi-table open: every
        # epoch not done at THIS point is excluded from every table read
        # below, even if its done marker lands between the opens — the
        # reader sees one consistent pre-epoch state across postings/
        # termstats/docmap/stats (ADVICE r3).
        snap = catalog.epoch_state()[1]
        self._snapshot_done = snap
        self.postings = catalog.read_table(spark, "postings",
                                           schema=POSTINGS_SCHEMA,
                                           snapshot_done=snap)
        self.termstats_deltas = (catalog.latest_fingerprint("termstats")
                                 or "").startswith("append-delta")
        self.termstats = read_termstats(spark, catalog, snapshot_done=snap)
        self.docmap = catalog.read_table(spark, "docmap", snapshot_done=snap)
        from .index_build import read_stats_row
        row = read_stats_row(spark, catalog, snapshot_done=snap)
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self.range_size = int(row["range_size"])
        self.n_term_buckets = int(row["n_term_buckets"]) \
            if row["n_term_buckets"] is not None else 0
        self.analyzer = (row["analyzer"]
                         if row["analyzer"] is not None else "english")
        # driver-side term->df memo (Lucene term-dictionary-cache analogue):
        # absent terms cache as None so repeated OOV queries stay job-free.
        # Snapshot semantics: tied to THIS reader — reopen the reader after
        # an append, exactly like reopening a Lucene searcher.
        self._df_cache: dict[str, int | None] = {}

    _DF_CACHE_MAX = 1_000_000

    def df_lookup(self, terms: list[str]) -> dict[str, int]:
        """df for each term, serving repeats from the driver memo; ONE
        Spark job for only the never-seen terms (zero jobs when warm)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            if len(self._df_cache) + len(missing) > self._DF_CACHE_MAX:
                self._df_cache.clear()
            rows = self.termstats_for(missing).collect()
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t)
        out = {}
        for t in terms:
            v = self._df_cache[t]
            if v is not None:
                out[t] = v
        return out

    def termstats_for(self, terms: list[str]) -> DataFrame:
        """termstats rows of `terms`. The `term IN` filter sits below the
        merge-on-read aggregate, so a delta-bearing index shuffles only
        these terms' rows, never the full vocabulary."""
        return self.termstats.filter(F.col("term").isin(terms))

    def cache(self) -> "IndexReader":
        """Pin postings + termstats in executor memory for repeated-query
        workloads (an interactive search service shape). At 10^12-doc scale
        use Spark's storage-level spill; here it's a plain persist."""
        self.postings = self.postings.persist()
        self.termstats = self.termstats.persist()
        self.postings.count()
        self.termstats.count()
        return self


def tokenize_queries(queries: DataFrame, analyzer: str = "english"
                     ) -> DataFrame:
    """(qid, text) -> (qid, term, weight=query tf) as a Spark stage, for
    callers that want the analyzed query relation itself (e.g. to feed
    search_terms). Same pinned analyzer as indexing (functions/text.py);
    the search front ends analyze on the driver instead."""
    simple = analyzer == "simple"

    def kernel(iterator):
        for pdf in iterator:
            toks = tokenize_series(pdf["text"], stem=not simple,
                                   stop=not simple)
            qids, terms, weights = [], [], []
            for qid, ts in zip(pdf["qid"], toks):
                for t, w in term_freqs(ts).items():
                    qids.append(qid)
                    terms.append(t)
                    weights.append(float(w))
            yield pd.DataFrame({"qid": qids, "term": terms, "weight": weights})

    return queries.mapInPandas(kernel, schema="qid string, term string, weight double")


def _score_and_merge(reader: IndexReader, qt: DataFrame, terms: list[str],
                     params: SearchParams) -> DataFrame:
    """Shared tail of every search plan: postings (pruned to the term
    buckets of `terms`) x query-terms broadcast join -> per-(qid, range)
    Arrow scoring kernel -> global top-k window. `qt` columns: qid, term,
    weight, df, n_qterms; `terms` are its distinct terms."""
    n_docs, avgdl = reader.n_docs, reader.avgdl
    range_size = reader.range_size
    k1, b, k, mode = params.k1, params.b, params.k, params.mode

    extra = (["block_last", "block_max_tf", "block_min_dl",
              "goff", "toff", "doff"] if params.algo == "bmw" else [])
    postings = reader.postings
    if reader.n_term_buckets:
        # static partition pruning: only buckets holding the query terms
        from .index_build import term_bucket
        buckets = sorted({term_bucket(t, reader.n_term_buckets)
                          for t in terms})
        postings = postings.filter(F.col("term_bucket").isin(buckets))
    matched = postings.join(F.broadcast(qt), "term", "inner").select(
        "qid", "term", "weight", "df", "n_qterms", "range_id", "payload",
        *extra)

    if params.algo == "bmw":
        from .bmw import bmw_topk_rows

        # Same mapInArrow group-walk shape as the exact path: rows sorted
        # by (qid, range_id, term) in-task (no per-group argsort, no
        # applyInPandas per-group materialization), one merged tie-safe
        # top-k emitted per qid held by the task.
        def bmw_kernel_arrow(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            group_rows: list = []
            cur = None             # (qid, range_id) of the open group
            qid_bufs: list = []
            buf_qid = None
            out_q: list = []
            out_d: list = []
            out_s: list = []

            def trim(cand, scores):
                if cand.size > k:
                    part = np.argpartition(-scores, k - 1)
                    kth = scores[part[k - 1]]
                    keep = part[scores[part] >= kth]
                    cand, scores = cand[keep], scores[keep]
                sel = np.lexsort((cand, -scores))
                cand, scores = cand[sel], scores[sel]
                if cand.size > k:
                    cand, scores = cand[:k], scores[:k]
                return cand, scores

            def flush_qid():
                nonlocal buf_qid
                if buf_qid is None or not qid_bufs:
                    buf_qid = None
                    return
                if len(qid_bufs) == 1:
                    d, s = qid_bufs[0]
                else:
                    d = np.concatenate([x[0] for x in qid_bufs])
                    s = np.concatenate([x[1] for x in qid_bufs])
                    d, s = trim(d, s)
                qid_bufs.clear()
                if d.size:
                    out_q.append(np.repeat(buf_qid, d.size))
                    out_d.append(d)
                    out_s.append(s)
                buf_qid = None

            def finish():
                nonlocal cur, buf_qid
                if cur is None:
                    return
                qid, range_id = cur
                d, s = bmw_topk_rows(group_rows, int(range_id) * range_size,
                                     n_docs, avgdl, k1, b, k, mode)
                group_rows.clear()
                cur = None
                if qid != buf_qid:
                    flush_qid()
                if d.size:
                    buf_qid = qid
                    qid_bufs.append((d, s))

            # Columnar row walk (same pattern as the exact kernel below and
            # the compaction kernel): scalars come out as numpy arrays, the
            # six list columns as (flat values, row offsets) so each row's
            # block metadata is a zero-copy numpy VIEW, and payload bytes
            # stay an Arrow buffer — no per-row to_pylist dict that copies
            # payloads and boxes every block-max entry (VERDICT r3 item 1).
            def flat(col):
                vals = col.flatten().to_numpy(zero_copy_only=False)
                lens = pc.list_value_length(col).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                off = np.empty(lens.size + 1, dtype=np.int64)
                off[0] = 0
                np.cumsum(lens, out=off[1:])
                return vals, off

            for batch in batches:
                idx = batch.schema.get_field_index
                qids = batch.column(idx("qid")).to_numpy(zero_copy_only=False)
                rids = batch.column(idx("range_id")).to_numpy()
                wgts = batch.column(idx("weight")).to_numpy()
                dfs = batch.column(idx("df")).to_numpy()
                nqs = batch.column(idx("n_qterms")).to_numpy()
                payloads = batch.column(idx("payload"))
                bl_v, bl_o = flat(batch.column(idx("block_last")))
                btf_v, btf_o = flat(batch.column(idx("block_max_tf")))
                bdl_v, bdl_o = flat(batch.column(idx("block_min_dl")))
                go_v, go_o = flat(batch.column(idx("goff")))
                to_v, to_o = flat(batch.column(idx("toff")))
                do_v, do_o = flat(batch.column(idx("doff")))
                for i in range(len(qids)):
                    key = (qids[i], int(rids[i]))
                    if cur is not None and cur != key:
                        finish()
                    if cur is None:
                        cur = key
                    group_rows.append({
                        "weight": wgts[i], "df": dfs[i],
                        "n_qterms": nqs[i],
                        "payload": payloads[i].as_buffer(),
                        "block_last": bl_v[bl_o[i]:bl_o[i + 1]],
                        "block_max_tf": btf_v[btf_o[i]:btf_o[i + 1]],
                        "block_min_dl": bdl_v[bdl_o[i]:bdl_o[i + 1]],
                        "goff": go_v[go_o[i]:go_o[i + 1]],
                        "toff": to_v[to_o[i]:to_o[i + 1]],
                        "doff": do_v[do_o[i]:do_o[i + 1]],
                    })
            finish()
            flush_qid()
            if out_q:
                yield pa.RecordBatch.from_arrays([
                    pa.array(np.concatenate(out_q), type=pa.string()),
                    pa.array(np.concatenate(out_d), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ], names=["qid", "docid", "score"])

        return _rank_top_k(matched, bmw_kernel_arrow, k)

    # Exhaustive scoring as a mapInArrow group-walk over rows sorted by
    # (qid, range_id, term) — NOT applyInPandas, whose ~10 ms per-group
    # pandas materialization dominates large query batches (500 q x ~15
    # ranges = thousands of groups). The in-task sort also delivers the
    # pinned lexicographic term summation order for free (terms are ASCII,
    # so Spark's UTF8 binary sort == the oracle's python str order).
    # The dense accumulators are allocated ONCE per task and reset by
    # zeroing only the touched slots after each group.
    def score_kernel_arrow(batches):
        import pyarrow as pa

        acc = np.zeros(range_size, dtype=np.float64)
        hits = np.zeros(range_size, dtype=np.int32)
        cur = None            # (qid, range_id, n_qterms) of the open group
        # per-qid candidate buffers: all groups of one qid are CONTIGUOUS in
        # the task (rows sorted by qid first), so the task emits ONE merged
        # top-k per qid it holds instead of one per (qid, range) — ~ranges/
        # partitions fewer rows into the global top-k exchange
        qid_bufs: list = []   # [(docids, scores), ...] for buf_qid
        buf_qid = None
        out_q: list = []
        out_d: list = []
        out_s: list = []

        def trim(cand, scores, offset=0):
            """Tie-safe local top-k in the pinned (score DESC, id ASC)
            order; keeps every candidate tied at the k-th score before the
            final truncate (a bare argpartition[:k] could evict a
            smaller-docid tie — mirrors bmw.py's >= theta trim)."""
            if cand.size > k:
                part = np.argpartition(-scores, k - 1)
                kth = scores[part[k - 1]]
                keep = part[scores[part] >= kth]
                cand, scores = cand[keep], scores[keep]
            sel = np.lexsort((cand, -scores))
            cand, scores = cand[sel], scores[sel]
            if cand.size > k:
                cand, scores = cand[:k], scores[:k]
            return cand, scores

        def flush_qid():
            nonlocal buf_qid
            if buf_qid is None or not qid_bufs:
                buf_qid = None
                return
            if len(qid_bufs) == 1:
                d, s = qid_bufs[0]
            else:
                d = np.concatenate([b[0] for b in qid_bufs])
                s = np.concatenate([b[1] for b in qid_bufs])
                d, s = trim(d, s)
            qid_bufs.clear()
            if d.size:
                out_q.append(np.repeat(buf_qid, d.size))
                out_d.append(d)
                out_s.append(s)
            buf_qid = None

        def finish():
            nonlocal cur, buf_qid
            if cur is None:
                return
            qid, range_id, n_qterms = cur
            base = int(range_id) * range_size
            if mode == "and":
                cand = np.flatnonzero(hits == n_qterms)
            else:
                cand = np.flatnonzero(hits)
            scores = acc[cand]
            # reset only touched slots (touched == hits > 0 slots)
            nz = np.flatnonzero(hits)
            acc[nz] = 0.0
            hits[nz] = 0
            cur = None
            cand, scores = trim(cand, scores)
            if qid != buf_qid:
                flush_qid()
            if cand.size:
                buf_qid = qid
                qid_bufs.append(((cand + base).astype(np.int64), scores))

        def drain():
            batch = pa.RecordBatch.from_arrays([
                pa.array(np.concatenate(out_q), type=pa.string()),
                pa.array(np.concatenate(out_d), type=pa.int64()),
                pa.array(np.concatenate(out_s), type=pa.float64()),
            ], names=["qid", "docid", "score"])
            out_q.clear(), out_d.clear(), out_s.clear()
            return batch

        for batch in batches:
            idx = batch.schema.get_field_index
            qids = batch.column(idx("qid")).to_numpy(zero_copy_only=False)
            rids = batch.column(idx("range_id")).to_numpy()
            wgts = batch.column(idx("weight")).to_numpy()
            dfs = batch.column(idx("df")).to_numpy()
            nqs = batch.column(idx("n_qterms")).to_numpy()
            payloads = batch.column(idx("payload"))
            for i in range(len(qids)):
                key = (qids[i], int(rids[i]), int(nqs[i]))
                if cur is not None and cur != key:
                    finish()
                if cur is None:
                    cur = key
                base = int(rids[i]) * range_size
                docids, tfs, dls = codec.decode_postings(
                    payloads[i].as_buffer(), range_start=base)
                if docids.size == 0:
                    continue
                idf = np.log(1.0 + (n_docs - float(dfs[i]) + 0.5)
                             / (float(dfs[i]) + 0.5))
                s = float(wgts[i]) * (
                    idf * codec.bm25_tf_norm(tfs, dls, k1, b, avgdl))
                loc = docids - base
                acc[loc] += s
                hits[loc] += 1
            if out_q and sum(a.size for a in out_d) >= 500_000:
                yield drain()
        finish()
        flush_qid()
        if out_q:
            yield drain()

    return _rank_top_k(matched, score_kernel_arrow, k)


def _rank_top_k(matched: DataFrame, kernel, k: int) -> DataFrame:
    """Scoring stage + global merge shared by both kernels. The exchange
    carries no explicit partition count: AQE coalesces the post-shuffle
    partitions from the shuffle bytes it measures, so a single query's few
    matched rows score in one task while a large batch still spreads over
    the cores."""
    scored = (matched
              .repartition("qid", "range_id")
              .sortWithinPartitions("qid", "range_id", "term")
              .mapInArrow(kernel, schema=SCORED_SCHEMA))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


QT_SCHEMA = "qid string, term string, weight double, df long, n_qterms int"


def _search_weighted(reader: IndexReader, rows, params: SearchParams
                     ) -> DataFrame:
    """The one query path behind search, search_terms and search_fast:
    (qid, term, weight) rows held on the driver -> ranked results.

    Rows sharing a qid form ONE query: the weights of a repeated
    (qid, term) are summed into one row, so each term scores and counts
    towards mode="and" once. df comes from the reader's driver memo (zero
    Spark jobs when warm); unmatched terms drop out, and n_qterms is each
    qid's number of distinct matched terms — conjunctive mode needs that
    GLOBAL count, since a term absent from one docid range still vetoes
    its docs. The query side reaches the JVM as a local relation (pandas
    -> Arrow), not a Python RDD."""
    weights: dict[tuple[str, str], float] = {}
    for qid, term, w in rows:
        weights[qid, term] = weights.get((qid, term), 0.0) + w
    df_map = reader.df_lookup(sorted({t for _, t in weights}))
    matched = [(q, t, w, df_map[t]) for (q, t), w in weights.items()
               if t in df_map]
    if not matched:
        return _empty_results(reader.spark)
    n_q = Counter(q for q, _, _, _ in matched)
    qt = pd.DataFrame([(q, t, w, df, n_q[q]) for q, t, w, df in matched],
                      columns=["qid", "term", "weight", "df", "n_qterms"])
    return _score_and_merge(reader,
                            reader.spark.createDataFrame(qt, QT_SCHEMA),
                            sorted(set(qt["term"])), params)


def search_terms(reader: IndexReader, qterms: DataFrame,
                 params: SearchParams = SearchParams()) -> DataFrame:
    """Weighted-term search: qterms(qid, term, weight) -> (qid, docid, score,
    rank). This is both the BM25 core and the RM3 second pass (weights
    multiply per-term BM25 contributions, SURVEY R8). The query side is
    collected once; a null term matches nothing."""
    rows = (qterms.where(F.col("term").isNotNull())
            .select(F.col("qid").cast("string"), "term",
                    F.col("weight").cast("double"))
            .collect())
    return _search_weighted(reader, rows, params)


def search(reader: IndexReader, queries: DataFrame,
           params: SearchParams = SearchParams()) -> DataFrame:
    """BM25 top-k over (qid, text) queries — reference R1/R3 batch search.
    The query set is collected once and takes the search_fast path."""
    rows = queries.select(F.col("qid").cast("string"), "text").collect()
    return search_fast(reader, rows, params)


def search_fast(reader: IndexReader, queries: list[tuple[str, str]],
                params: SearchParams = SearchParams()) -> DataFrame:
    """BM25 top-k over (qid, text) pairs already on the driver: analyze them
    with the same pinned tokenizer (None = empty text), take df from the
    reader's memo, and go straight to the scoring job — the shape of an
    interactive front-end; the reference's per-call ``searcher.search`` is
    the analogous single-query path, src/bm25_retrieval.py:45-85."""
    simple = reader.analyzer == "simple"
    rows = [(qid, t, float(w)) for qid, text in queries
            for t, w in term_freqs(tokenize(text or "", stem=not simple,
                                            stop=not simple)).items()]
    return _search_weighted(reader, rows, params)


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "qid string, docid long, score double, rank int")


def attach_urls(reader: IndexReader, results: DataFrame) -> DataFrame:
    """Map dense docids back to external ids (urls). The result side is tiny
    (<= k per query), so broadcast it against the huge docmap."""
    return reader.docmap.join(F.broadcast(results), "docid", "inner")


# ---------------------------------------------------------------------- RM3

def rm3_expand(reader: IndexReader, queries: DataFrame, docs: DataFrame,
               fb_docs: int = 10, fb_terms: int = 10,
               original_query_weight: float = 0.5,
               params: SearchParams = SearchParams()) -> DataFrame:
    """RM3 relevance model -> expanded weighted terms (qid, term, weight).

    Mirrors the oracle exactly (oracle/bm25_oracle.py:rm3_expand); reference
    semantics from Anserini's Rm3Reranker invoked via ``set_rm3``
    (``src/bm25_retrieval.py:88-135``).
    """
    first = search(reader, queries,
                   SearchParams(params.k1, params.b, fb_docs, "or"))
    fb = docs.select("docid", "text").join(
        F.broadcast(first.select("qid", "docid", "score")), "docid", "inner")
    fb = fb.join(F.broadcast(queries.withColumnRenamed("text", "query_text")), "qid")
    lam = original_query_weight
    # feedback docs MUST be analyzed with the index's analyzer, or the
    # expansion terms never match the postings (simple vs stemmed english)
    do_stem = reader.analyzer != "simple"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (qid,) = key
        qtf = term_freqs(list(tokenize_series(
            pd.Series([pdf["query_text"].iloc[0]]),
            stem=do_stem, stop=do_stem))[0])
        qlen = sum(qtf.values())
        pq = {t: tf / qlen for t, tf in qtf.items()} if qlen else {}
        total = float(pdf["score"].sum())
        pr: dict[str, float] = {}
        tok_lists = tokenize_series(pdf["text"], stem=do_stem, stop=do_stem)
        for toks, s in zip(tok_lists, pdf["score"]):
            pdw = s / total if total > 0 else 1.0 / len(pdf)
            dl = len(toks)
            if dl == 0:
                continue
            for term, tf in term_freqs(toks).items():
                pr[term] = pr.get(term, 0.0) + pdw * (tf / dl)
        top = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
        fbw = dict(top)
        terms = sorted(set(pq) | set(fbw))
        return pd.DataFrame({
            "qid": np.repeat(qid, len(terms)),
            "term": terms,
            "weight": [lam * pq.get(t, 0.0) + (1 - lam) * fbw.get(t, 0.0)
                       for t in terms],
        })

    return fb.groupBy("qid").applyInPandas(
        kernel, schema="qid string, term string, weight double")


def search_rm3(reader: IndexReader, queries: DataFrame, docs: DataFrame,
               fb_docs: int = 10, fb_terms: int = 10,
               original_query_weight: float = 0.5,
               params: SearchParams = SearchParams()) -> DataFrame:
    """BM25+RM3 two-pass search — reference R2/R4."""
    expanded = rm3_expand(reader, queries, docs, fb_docs, fb_terms,
                          original_query_weight, params)
    return search_terms(reader, expanded, params)
