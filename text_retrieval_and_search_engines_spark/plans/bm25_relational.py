"""BM25 as a pure relational DataFrame plan (SQL-twinnable).

The engine's primary path scores compressed postings in Arrow kernels
(plans/query.py); THIS module expresses the identical Okapi BM25 semantics
(reference ``final-project/src/bm25_retrieval.py:45-85`` + Lucene >=8 formula,
SURVEY R5) as joins + aggregations only, so Catalyst owns the whole plan and
an ANSI-SQL twin (DuckDB oracle) can verify it value-for-value. It uses the
*simple* tokenizer (lowercase [a-z0-9]+ split, no stemming/stopwords) because
the twin must be expressible in SQL; the stemmed analyzer path is pytest-
verified against the Python oracle instead.

Plan shape at scale: tokens explode is map-side; tf and df are hash aggs with
partial combine; query terms broadcast; one shuffle for the per-(qid, doc)
sum; top-k via window. Scores are rounded to 6 decimals BEFORE ranking so the
SQL twin ranks identically despite float summation-order differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K1_DEFAULT = 0.9
B_DEFAULT = 0.4


def simple_tokens(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, term) one row per token occurrence — JVM split+explode."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda w: w != "")
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(words).alias("term"))


def simple_tokens_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """DuckDB twin of simple_tokens (a CTE body)."""
    return (
        f"SELECT {id_col} AS doc_id, unnest(list_filter("
        f"string_split_regex(lower({text_col}), '[^a-z0-9]+'), "
        f"w -> w != '')) AS term FROM {table}"
    )


def term_frequencies(tokens: DataFrame) -> DataFrame:
    return tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def explode_term_tf(docs: DataFrame, tokens_array,
                    keep: tuple[str, ...] = ()) -> DataFrame:
    """(*keep, term, tf) rows: distinct tokens + occurrence counts per
    input row, computed IN-ROW (sort + run-length over the sorted token
    array) — the per-doc (doc_id, term) -> tf aggregation without the
    (doc_id, term)-keyed exchange, since a (doc, term) group never spans
    rows (guide §2.4). Exact integer counts; multiset identical to
    exploding the array and counting.

    Implementation note: each step is its OWN projection so the sorted
    array / starts array bind as attributes. Folding everything into one
    expression re-evaluates the array_sort subtree inside every lambda
    call (Catalyst higher-order lambdas evaluate interpreted with no
    common-subexpression elimination — measured as an O(w^2 log w)
    per-row blowup). CollapseProject keeps multi-referenced non-cheap
    producers un-inlined, so the staging survives optimization."""
    d = docs.select(*keep, F.array_sort(tokens_array).alias("_s"))
    d = d.select(*keep, "_s", F.size("_s").alias("_n"))
    starts = F.filter(
        F.sequence(F.lit(0), F.col("_n") - 1),
        lambda i: (i == F.lit(0))
        | (F.get(F.col("_s"), i) != F.get(F.col("_s"), i - 1)))
    d = d.select(*keep, "_s", "_n",
                 F.when(F.col("_n") > 0, starts)
                 .otherwise(F.array().cast("array<int>")).alias("_st"))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("_st") - 1),
        lambda j: F.struct(
            F.get(F.col("_s"), F.get(F.col("_st"), j)).alias("term"),
            (F.coalesce(F.get(F.col("_st"), j + 1), F.col("_n"))
             - F.get(F.col("_st"), j)).alias("tf")))
    d = d.select(*keep,
                 F.explode(F.when(F.size("_st") > 0, pairs)
                           .otherwise(F.array().cast(
                               "array<struct<term:string,tf:int>>")))
                 .alias("_e"))
    return d.select(*keep, F.col("_e.term").alias("term"),
                    F.col("_e.tf").alias("tf"))


def term_doc_stats(docs: DataFrame) -> DataFrame:
    """(term, df, cf) — value-identical to
    ``document_frequencies(term_frequencies(simple_tokens(docs)))`` but
    with per-doc tf computed in-row (explode_term_tf) so the ONLY exchange
    is the term-keyed aggregate, whose map-side partial agg collapses each
    partition to its vocabulary (guide §2.3: the old plan exchanged every
    distinct (doc_id, term) pair, then exchanged again by term)."""
    words = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                     lambda w: w != "")
    return (explode_term_tf(docs, words)
            .groupBy("term")
            .agg(F.count("*").alias("df"),
                 F.sum("tf").alias("cf")))


def doc_lengths(tokens: DataFrame) -> DataFrame:
    return tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))


def document_frequencies(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(F.count("*").alias("df"),
                                  F.sum("tf").alias("cf"))


def bm25_topk(docs: DataFrame, queries: list[tuple[str, str]], k: int = 10,
              k1: float = K1_DEFAULT, b: float = B_DEFAULT,
              mode: str = "or") -> DataFrame:
    """Top-k BM25 -> (qid, doc_id, score, rank); score rounded to 6dp,
    rank tie-break (score DESC, doc_id ASC).

    Round-6 plan (guide §2.3/§2.4 — shuffle only what the query needs):
    the old shape tokenized the corpus ~5x (docs.count, tokens.count, tf,
    dl, dfreq) and exchanged the FULL (doc_id, term, tf) relation twice.
    Query terms are a tiny driver-side set, so everything per-corpus the
    scoring needs restricts to them BEFORE any exchange:

    * pass 1 (one job): n_docs, total tokens AND per-query-term corpus
      presence booleans, all from one narrow aggregate over the token
      ARRAY (no explode) — replaces two count() jobs + the dfreq
      semi-join that fed n_qterms;
    * pass 2 (the returned plan): per doc, dl = size(tokens) and the
      query-term-only token subset; explode + tf-aggregate touches ONLY
      matched occurrences, df per term comes from a count-over-window on
      that (tiny) matched frame — identical integers to the full dfreq
      for every query term, since df counts docs containing the term.

    Per-(qid, doc) contributions and the 6dp-round-then-rank convention
    are unchanged (summation order was never pinned — both engines round
    before ranking)."""
    spark = docs.sparkSession

    qtok = []
    for qid, text in queries:
        terms = [w for w in __import__("re").split(r"[^a-z0-9]+", text.lower()) if w]
        seen: dict[str, int] = {}
        for t in terms:
            seen[t] = seen.get(t, 0) + 1
        for t, w in seen.items():
            qtok.append((qid, t, float(w)))
    if not qtok:
        id_type = docs.schema["doc_id"].dataType.simpleString()
        return spark.createDataFrame(
            [], f"qid string, doc_id {id_type}, score double, rank int")
    qterm_list = sorted({t for _, t, _ in qtok})

    words = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                     lambda w: w != "")
    # pass 1: collection stats + per-term presence in ONE aggregate job.
    # The token array binds as its own projection first — referencing the
    # split expression from every output column would re-tokenize the row
    # once per column (no CSE across interpreted higher-order lambdas).
    stats = docs.select(words.alias("_w")).select(
        F.size("_w").alias("_dl"),
        *[F.array_contains("_w", t).cast("int").alias(f"_p{i}")
          for i, t in enumerate(qterm_list)]
    ).agg(F.count("*").alias("n"), F.sum("_dl").alias("tot"),
          *[F.max(f"_p{i}").alias(f"_p{i}")
            for i in range(len(qterm_list))]).collect()[0]
    n_docs = int(stats["n"])
    total_tokens = int(stats["tot"] or 0)
    avgdl = total_tokens / n_docs if n_docs else 0.0
    present = {t for i, t in enumerate(qterm_list) if (stats[f"_p{i}"] or 0)}

    qterms = spark.createDataFrame(qtok, "qid string, term string, weight double")

    # pass 2: matched-occurrence tf + windowed df (query-term rows only);
    # token array staged as a column for the same single-tokenize reason
    tf_m = (
        docs.select(F.col("doc_id"), words.alias("_w"))
        .select("doc_id", F.size("_w").alias("dl"),
                F.filter(F.col("_w"), lambda w: w.isin(qterm_list))
                .alias("_mw"))
        .filter(F.size("_mw") > 0)
        .select("doc_id", "dl", F.explode("_mw").alias("term"))
        .groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    )
    wdf = Window.partitionBy("term")
    tf_df = tf_m.withColumn("df", F.count("*").over(wdf))

    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfnorm = F.col("tf") / (F.col("tf") + F.lit(k1)
                            * (1.0 - b + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    contrib = (F.col("weight") * idf * tfnorm).alias("contrib")

    scored = (
        tf_df.join(F.broadcast(qterms), "term")
        .select("qid", "doc_id", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"),
             F.count("*").alias("n_matched"))
    )
    if mode == "and":
        # n_qterms = query terms with df >= 1 anywhere in the corpus —
        # exactly the presence booleans from pass 1 (driver-side map)
        n_q = {}
        seen_qt = set()
        for qid, t, _ in qtok:
            if t in present and (qid, t) not in seen_qt:
                seen_qt.add((qid, t))
                n_q[qid] = n_q.get(qid, 0) + 1
        n_qterms = spark.createDataFrame(
            [(q, c) for q, c in n_q.items()], "qid string, n_qterms long")
        scored = (scored.join(F.broadcast(n_qterms), "qid")
                  .filter(F.col("n_matched") == F.col("n_qterms")))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.select("qid", "doc_id", "score")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def bm25_topk_sql(queries: list[tuple[str, str]], k: int = 10,
                  k1: float = K1_DEFAULT, b: float = B_DEFAULT,
                  mode: str = "or", table: str = "documents") -> str:
    """DuckDB twin of bm25_topk (same rounding + tie-break)."""
    import re as _re
    qrows = []
    for qid, text in queries:
        terms = [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]
        seen: dict[str, int] = {}
        for t in terms:
            seen[t] = seen.get(t, 0) + 1
        for t, wgt in seen.items():
            qrows.append(f"('{qid}', '{t}', {float(wgt)})")
    values = ", ".join(qrows)
    and_clause = (
        "JOIN nq USING (qid) WHERE s.n_matched = nq.n_qterms"
        if mode == "and" else ""
    )
    return f"""
WITH tokens AS ({simple_tokens_sql(table)}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
consts AS (
  SELECT (SELECT count(*) FROM {table})::DOUBLE AS n_docs,
         (SELECT count(*) FROM tokens)::DOUBLE
         / (SELECT count(*) FROM {table}) AS avgdl),
qterms AS (SELECT * FROM (VALUES {values}) AS q(qid, term, weight)),
nq AS (SELECT qid, count(*) AS n_qterms FROM qterms
       WHERE term IN (SELECT term FROM dfreq) GROUP BY 1),
scored AS (
  SELECT qid, doc_id,
         round(sum(weight * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)))), 6)
             AS score,
         count(*) AS n_matched
  FROM tf JOIN qterms USING (term) JOIN dfreq USING (term)
          JOIN dl USING (doc_id) CROSS JOIN consts
  GROUP BY qid, doc_id),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM scored s {and_clause})
SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= {k}
"""
