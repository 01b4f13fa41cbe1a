"""Index-backed workloads.

Set-up (both): a seeded ``synth_corpus`` written as parquet, an index built
by ``plans.index_build.build_index``, and a cached ``IndexReader``.

* ``search`` — TREC-style batch runs.  One op is ``plans.query.search`` over
  the same 50 seeded topics (2-4 Zipf-drawn terms each) at
  ``SearchParams(k=1000)``, collected to the client.  An item is a query.
* ``lookup`` — interactive single queries.  One op is
  ``plans.query.search_fast`` at k=10 for the next of 20 seeded queries, in
  a cycle, against a reader whose term-dictionary memo set-up has warmed for
  those queries: every op is the same job shape (the scoring job alone), so
  the per-job/per-task floor is what it measures.  An item is a query.

The traced run of ``search`` also makes the curation-operator forced calls
and the traced run of ``lookup`` the curated-append probe (see probes.py).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.functions.text import tokenize
from text_retrieval_and_search_engines_spark.plans.index_build import (
    IndexConfig, build_index)
from text_retrieval_and_search_engines_spark.plans.query import (
    IndexReader, SearchParams, search, search_fast, search_terms,
    tokenize_queries)
from text_retrieval_and_search_engines_spark.sources.tables import Catalog

from . import checks, inputs, probes
from .host import dir_bytes

N_DOCS = 1000
MEAN_TOKENS = 100
INDEX_CFG = IndexConfig(langs=(), recompute_text=False,
                        materialize_docs=False)
INDEX_TABLES = ("postings", "termstats", "docmap", "doclens")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def index_layers(spark, catalog: Catalog) -> dict:
    """On-disk bytes per index table and postings bytes per posting."""
    out = {f"plans.index_build.{t}.bytes": dir_bytes(catalog.path(t))
           for t in INDEX_TABLES}
    n_post = catalog.read_table(spark, "lineage").agg(
        F.sum("n_postings")).collect()[0][0]
    out["functions.codec.bytes_per_posting"] = (
        out["plans.index_build.postings.bytes"] / n_post)
    return out


class IndexWorkload:
    """Shared set-up; subclasses set name, op_s (nominal op wall, which
    fixes the timed op count), warm_ops (warm-up op count bounds),
    n_queries and k."""

    def __init__(self, spark, work: str, seed: int, tracer, traced: bool):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.traced = traced
        self.reader = None
        self.setup_layers: list[dict] = []
        self.parts = spark.sparkContext.defaultParallelism

    def setup(self, rep: int) -> None:
        """One full set-up: inputs, index build, reader open + cache."""
        if self.reader is not None:
            self.reader.postings.unpersist()
            self.reader.termstats.unpersist()
        t0 = time.perf_counter()
        pdf = inputs.corpus(self.spark, N_DOCS, MEAN_TOKENS, self.seed,
                            f"https://example.org/s{self.seed}")
        path = os.path.join(self.work, f"corpus{rep}.parquet")
        self.input_bytes = inputs.write(pdf, path, self.parts)
        self.queries = inputs.zipf_topics(self.seed, self.n_queries)
        if self.traced:
            self.probe_inputs = probes.generate(
                self.spark, os.path.join(self.work, f"probe{rep}"),
                self.seed)
        t1 = time.perf_counter()
        self.catalog_dir = os.path.join(self.work, f"catalog{rep}")
        self.catalog = Catalog(self.catalog_dir)
        info = build_index(self.spark, self.spark.read.parquet(path),
                           self.catalog, INDEX_CFG,
                           input_fp=f"seed{self.seed}")
        t2 = time.perf_counter()
        self.reader = IndexReader(self.spark, self.catalog).cache()
        t3 = time.perf_counter()
        layers = {"sources.synth_spark.s": t1 - t0,
                  "plans.query.reader_open_cache.s": t3 - t2}
        for phase in ("tokenize", "postings", "meta"):
            layers[f"plans.index_build.{phase}.s"] = info["phase_sec"][phase]
        self.setup_layers.append(layers)

    def input_facts(self) -> dict:
        return {"docs": N_DOCS, "mean_tokens": MEAN_TOKENS,
                "text_bytes": self.input_bytes, "input_files": self.parts,
                "queries": self.n_queries}

    def bytes_per_input_byte(self) -> float:
        return dir_bytes(self.catalog_dir) / self.input_bytes


class Search(IndexWorkload):
    name = "search"
    op_s = 1.0              # sets the op count per run: round(seconds / op_s)
    warm_ops = (4, 10)      # per-op CPU keeps falling for ~6-10 batches
    n_queries = 50
    k = 1000

    def setup(self, rep: int) -> None:
        super().setup(rep)
        self.qdf = self.spark.createDataFrame(self.queries,
                                              "qid string, text string")

    def digest_key(self, i: int) -> int:
        return 0            # every op runs the same batch: same output

    def op(self, i: int, traced: bool) -> tuple[int, bool, str]:
        """Returns (items, ok, digest)."""
        params = SearchParams(k=self.k)
        with self.tr.span("op.traced" if traced else "op"):
            if traced:
                with self.tr.span("plans.query.tokenize_queries"):
                    qt = tokenize_queries(self.qdf,
                                          self.reader.analyzer).persist()
                    qt.count()
                with self.tr.span("plans.query.search_terms"):
                    rows = search_terms(self.reader, qt, params).collect()
                qt.unpersist()
            else:
                rows = search(self.reader, self.qdf, params).collect()
        self.n_hits = len(rows)
        ok, dig = checks.ranked(rows, self.k)
        return self.n_queries, ok, dig

    def layer_metrics(self) -> tuple[dict, bool]:
        out = index_layers(self.spark, self.catalog)
        qt = tokenize_queries(self.qdf, self.reader.analyzer)
        matched = (self.reader.postings.select("term")
                   .join(F.broadcast(qt.select("qid", "term")), "term")
                   .count())
        out["plans.query.postings_rows_per_query"] = matched / self.n_queries
        out["plans.query.hits_per_query"] = self.n_hits / self.n_queries
        for name in ("plans.query.tokenize_queries",
                     "plans.query.search_terms"):
            out[f"{name}.ms_per_op"] = median(self.tr.durations_ms(name))
        curate, ok = probes.curate_layers(self.spark, self.probe_inputs)
        out.update(curate)
        return out, ok


class Lookup(IndexWorkload):
    name = "lookup"
    op_s = 0.8
    warm_ops = (4, 8)
    n_queries = 20          # op i sends query i % 20
    k = 10

    def setup(self, rep: int) -> None:
        super().setup(rep)
        self.asked = {t for _, q in self.queries for t in tokenize(q)}
        self.reader.df_lookup(sorted(self.asked))
        self.lookups = self.hits = 0

    def digest_key(self, i: int) -> int:
        return i % self.n_queries

    def op(self, i: int, traced: bool) -> tuple[int, bool, str]:
        qid, text = self.queries[i % self.n_queries]
        params = SearchParams(k=self.k)
        with self.tr.span("op.traced" if traced else "op"):
            if traced:
                with self.tr.span("functions.text.tokenize"):
                    terms = sorted(set(tokenize(text)))
                self.lookups += len(terms)
                self.hits += len(self.asked.intersection(terms))
                with self.tr.span("plans.query.df_lookup"):
                    self.reader.df_lookup(terms)
                with self.tr.span("plans.query.search_fast"):
                    rows = search_fast(self.reader, [(qid, text)],
                                       params).collect()
            else:
                rows = search_fast(self.reader, [(qid, text)],
                                   params).collect()
        ok, dig = checks.ranked(rows, self.k)
        return 1, ok, dig

    def layer_metrics(self) -> tuple[dict, bool]:
        out = index_layers(self.spark, self.catalog)
        for name in ("functions.text.tokenize", "plans.query.df_lookup",
                     "plans.query.search_fast"):
            out[f"{name}.ms_per_op"] = median(self.tr.durations_ms(name))
        out["plans.query.df_lookup.hit_ratio"] = (
            self.hits / max(self.lookups, 1))
        append, ok = probes.append_layers(self.spark, self.probe_inputs)
        out.update(append)
        return out, ok


WORKLOADS = {w.name: w for w in (Search, Lookup)}
