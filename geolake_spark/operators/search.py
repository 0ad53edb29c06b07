"""Full-text relevance search over the corpus: BM25 (Robertson et al.,
TREC-3; the Lucene-default ranking function) as a pure DataFrame plan.

Reference analogue: none in geolake (no text ops) — beyond-reference
webtext mandate.  The design point is the 100 TB shape: corpus-level
statistics (N, avgdl, per-term document frequency) come from ONE
aggregate scan collapsing to a single row, which then rides a broadcast
cross join into the scoring scan — two scans of the corpus total, zero
Python, no driver-side collect, and the scoring expression is one
whole-stage-codegen HOF per term (query terms are few by construction).
The DuckDB mirror (:func:`bm25_scores_sql`) replays the identical
arithmetic for the value-hash oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _toks(text: Column) -> Column:
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))


def bm25_scores(docs: DataFrame, terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """``(id_col, score)`` for every doc matching >= 1 query term,
    BM25-scored against the corpus (idf uses the Lucene +1 smoothing, so
    it is never negative): ``idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)``,
    ``tf_part = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``.

    ``terms`` are matched as lowercased whole tokens (the corpus side is
    lowercased; pass lowercase terms).  Scores are rounded to 6 dp for
    oracle parity.  Duplicate query terms are collapsed."""
    terms = sorted(set(terms))
    assert terms, "bm25_scores needs at least one query term"
    tokd = docs.select(F.col(id_col), _toks(F.col(text_col)).alias("_bm_t"))
    stats = tokd.agg(
        F.count("*").alias("_bm_n"),
        F.avg(F.size(F.col("_bm_t"))).alias("_bm_avgdl"),
        *[F.sum(F.array_contains("_bm_t", t).cast("long")).alias(f"_bm_df{i}")
          for i, t in enumerate(terms)])
    j = tokd.crossJoin(F.broadcast(stats))
    dl = F.size("_bm_t").cast("double")
    denom_dl = F.lit(1.0) - F.lit(b) + F.lit(b) * dl \
        / F.greatest(F.col("_bm_avgdl"), F.lit(1e-12))
    def _tf(term: str) -> Column:
        # NB: one-arg lambda — a second (defaulted) parameter would make
        # pyspark call it in (element, index) form
        return F.size(F.filter("_bm_t", lambda x: x == F.lit(term))) \
            .cast("double")

    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = _tf(t)
        idf = F.log((F.col("_bm_n") - F.col(f"_bm_df{i}") + 0.5)
                    / (F.col(f"_bm_df{i}") + 0.5) + 1.0)
        score = score + idf * tf * (k1 + 1.0) / (tf + F.lit(k1) * denom_dl)
    any_hit = None
    for t in terms:
        hit = F.array_contains("_bm_t", t)
        any_hit = hit if any_hit is None else (any_hit | hit)
    return (j.filter(any_hit)
            .select(F.col(id_col), F.round(score, 6).alias("score")))


def bm25_scores_sql(docs_sql: str, terms: list[str],
                    text_expr: str = "text", id_col: str = "doc_id",
                    k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB mirror of :func:`bm25_scores` over a docs subquery."""
    terms = sorted(set(terms))
    t = f"trim(lower({text_expr}))"
    toks = (f"(case when length({t}) = 0 then []::varchar[] "
            f"else regexp_split_to_array({t}, '\\s+') end)")

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    dfs = ", ".join(
        f"sum(case when list_contains(_bm_t, {q(tm)}) then 1 else 0 end) "
        f"AS _bm_df{i}" for i, tm in enumerate(terms))
    denom_dl = (f"(1.0 - {b!r} + {b!r} * len(_bm_t) "
                f"/ greatest(_bm_avgdl, 1e-12))")
    parts = []
    for i, tm in enumerate(terms):
        tf = f"cast(len(list_filter(_bm_t, x -> x = {q(tm)})) as double)"
        idf = f"ln((_bm_n - _bm_df{i} + 0.5) / (_bm_df{i} + 0.5) + 1.0)"
        parts.append(f"{idf} * {tf} * ({k1!r} + 1.0) "
                     f"/ ({tf} + {k1!r} * {denom_dl})")
    any_hit = " OR ".join(f"list_contains(_bm_t, {q(tm)})" for tm in terms)
    return f"""
WITH _bm_d AS (
    SELECT {id_col}, {toks} AS _bm_t FROM ({docs_sql})
), _bm_s AS (
    SELECT count(*) AS _bm_n, avg(len(_bm_t)) AS _bm_avgdl, {dfs}
    FROM _bm_d
)
SELECT {id_col}, round({" + ".join(parts)}, 6) AS score
FROM _bm_d, _bm_s
WHERE {any_hit}
"""


# ---------------------------------------------------------------------------
# Term co-occurrence counts (collocation / PMI inputs)
# ---------------------------------------------------------------------------
# The corpus statistic behind collocation mining, PMI features, and
# word-vector pre-processing: for token pairs (a, b), how many documents
# contain both.  Output stays INTEGER — (pair_count, count_a, count_b,
# n_docs) — so the DuckDB oracle is exact; PMI itself is one log
# expression consumers apply (``pmi_col``), kept out of the oracle
# because cross-engine libm logs are not bit-contracted.
#
# Scale shape: per doc the (sorted, distinct, capped) term array builds
# its upper-triangle pairs INSIDE one HOF expression — the in-bucket
# pair-generation trick from the dedup tier — so pair volume is bounded
# by max_terms^2/2 per doc and never shuffles wider than the
# partial-agg'd (a, b) groupBy.  Per-token counts reuse the same capped
# arrays (the contract: counts and pairs describe the same term sets).


def cooccurrence_counts(docs: DataFrame, max_terms: int = 32,
                        min_count: int = 2, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """``(token_a, token_b, pair_count, count_a, count_b, n_docs)`` for
    doc-level co-occurrence with ``pair_count >= min_count``; terms are
    the first ``max_terms`` distinct lowercased tokens in sorted order
    (deterministic cap)."""
    terms = F.slice(F.array_sort(F.array_distinct(_toks(F.col(text_col)))),
                    1, max_terms)
    base = docs.select(F.col(id_col).alias("doc_id"),
                       terms.alias("_terms"))
    n = F.size(F.col("_terms"))
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.transform(
            F.sequence(i + 1, F.greatest(n, i + 1)),
            lambda j: F.struct(
                F.element_at(F.col("_terms"), i.cast("int")).alias("a"),
                F.element_at(F.col("_terms"), j.cast("int")).alias("b")))))
    pair_rows = (base.filter(n >= 2)
                 .select(F.explode(pairs).alias("p"))
                 .select(F.col("p.a").alias("token_a"),
                         F.col("p.b").alias("token_b")))
    pc = (pair_rows.groupBy("token_a", "token_b")
          .agg(F.count(F.lit(1)).alias("pair_count"))
          .filter(F.col("pair_count") >= min_count))
    tc = (base.select(F.explode(F.col("_terms")).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    n_docs = base.count()  # metadata-sized scalar, rides as a literal
    return (pc.join(tc.withColumnRenamed("tok", "token_a")
                    .withColumnRenamed("cnt", "count_a"), "token_a")
            .join(tc.withColumnRenamed("tok", "token_b")
                  .withColumnRenamed("cnt", "count_b"), "token_b")
            .select("token_a", "token_b", "pair_count", "count_a",
                    "count_b", F.lit(n_docs).cast("bigint").alias("n_docs")))


def pmi_col(pair_count: Column, count_a: Column, count_b: Column,
            n_docs: Column) -> Column:
    """Pointwise mutual information over doc-level counts:
    ``log(n_docs * pair_count / (count_a * count_b))`` — the consumer-side
    finisher (pytest-covered; see the oracle note above)."""
    return F.log((n_docs.cast("double") * pair_count)
                 / (count_a.cast("double") * count_b))


def cooccurrence_counts_sql(docs_sql: str, max_terms: int = 32,
                            min_count: int = 2, text_expr: str = "text",
                            id_expr: str = "doc_id") -> str:
    """DuckDB twin: same sorted/distinct/capped term arrays, same
    upper-triangle pair generation, same integer counts."""
    toks = (f"(case when length(trim(lower({text_expr}))) = 0 "
            f"then []::varchar[] else "
            f"regexp_split_to_array(trim(lower({text_expr})), '\\s+') end)")
    terms = f"list_sort(list_distinct({toks}))[1:{max_terms}]"
    return f"""
WITH _co_base AS (
  SELECT {id_expr} AS doc_id, {terms} AS terms FROM ({docs_sql})
), _co_pairs AS (
  SELECT p.a AS token_a, p.b AS token_b
  FROM _co_base,
       unnest(flatten(list_transform(
         range(1, greatest(len(terms) - 1, 1) + 1),
         i -> list_transform(range(i + 1, greatest(len(terms), i + 1) + 1),
                             j -> {{'a': terms[i], 'b': terms[j]}})))) AS u(p)
  WHERE len(terms) >= 2
), _co_pc AS (
  SELECT token_a, token_b, count(*) AS pair_count
  FROM _co_pairs GROUP BY 1, 2 HAVING count(*) >= {min_count}
), _co_tc AS (
  SELECT u.tok AS tok, count(*) AS cnt
  FROM _co_base, unnest(terms) AS u(tok) GROUP BY 1
), _co_n AS (SELECT count(*) AS n_docs FROM _co_base)
SELECT p.token_a, p.token_b, p.pair_count,
       ta.cnt AS count_a, tb.cnt AS count_b,
       cast(n.n_docs as bigint) AS n_docs
FROM _co_pc p
JOIN _co_tc ta ON ta.tok = p.token_a
JOIN _co_tc tb ON tb.tok = p.token_b
CROSS JOIN _co_n n"""


# ---------------------------------------------------------------------------
# Inverted index construction — the classic search-engine build job
# (term -> postings).  At 100 TB the shape is: one tokenize+posexplode
# scan (pure JVM, no Python), one (term, doc) aggregation shuffle, then a
# window over the ALREADY-AGGREGATED rows for document frequency — the
# window's exchange moves index entries, not tokens.  Hot terms ("the")
# produce large-but-bounded posting rows, not large agg buffers: tf is a
# count and positions are per-(term,doc), so no single aggregation key
# exceeds one document's token count.
# ---------------------------------------------------------------------------


def build_postings(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_df: int = 1) -> DataFrame:
    """Flat inverted-index rows: one row per (term, doc) with
    ``(term, df_count, doc_id, tf, positions)`` where positions is the
    comma-joined ascending list of 0-based token offsets (the phrase-query
    / proximity-scoring payload).  Terms with document frequency below
    ``min_df`` are dropped.  Tokens are ``_toks`` (trim+lower+split \\s+),
    the same contract as :func:`bm25_scores`."""
    from pyspark.sql import Window
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_toks(F.col(text_col))).alias("pos", "term"))
    per_doc = toks.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("pos")),
                        lambda x: x.cast("string")), ",").alias("positions"))
    out = per_doc.withColumn(
        "df_count", F.count("*").over(Window.partitionBy("term")))
    if min_df > 1:
        out = out.filter(F.col("df_count") >= min_df)
    return out.select("term", "df_count", "doc_id", "tf", "positions")


def build_postings_sql(docs_sql: str, text_expr: str = "text",
                       id_expr: str = "doc_id", min_df: int = 1) -> str:
    """DuckDB mirror of :func:`build_postings` (value-hash oracle)."""
    return f"""
WITH _pw AS (
  SELECT {id_expr} AS doc_id,
         CASE WHEN trim(lower({text_expr})) = '' THEN []
              ELSE regexp_split_to_array(trim(lower({text_expr})), '\\s+')
         END AS tk
  FROM ({docs_sql})
), _pt AS (
  SELECT doc_id, u.term AS term, u.pos AS pos
  FROM _pw, LATERAL (SELECT unnest(list_transform(range(1, len(tk) + 1),
         i -> {{'pos': i - 1, 'term': tk[i]}}),
         recursive := true)) u
), _pd AS (
  SELECT term, doc_id, count(*) AS tf,
         array_to_string(list_transform(list_sort(list(pos)),
                                        x -> cast(x AS VARCHAR)), ',')
           AS positions
  FROM _pt GROUP BY 1, 2
)
SELECT term, count(*) OVER (PARTITION BY term) AS df_count,
       doc_id, tf, positions
FROM _pd
QUALIFY df_count >= {min_df}"""


# ---------------------------------------------------------------------------
# Phrase query — the positional-postings consumer.  Index-shaped plan:
# position postings are built ONLY for the phrase's terms (the isin
# filter prunes inside the tokenize scan, so at 100 TB the exchange
# carries a few postings rows per matching doc, never the token
# stream), then k-1 equi-joins on doc_id intersect start positions via
# codegen HOFs.  Each per-term posting set is tiny after the term
# filter — AQE broadcasts the join sides.  The SQL oracle deliberately
# uses a DIFFERENT algorithm (direct windowed scan of the token array)
# so the two engines agree on the answer, not on the plan.
# ---------------------------------------------------------------------------


def phrase_hits(docs: DataFrame, phrase: list[str],
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs containing the exact consecutive token sequence ``phrase``
    (tokens per the ``_toks`` contract: trim+lower+split \\s+).
    Returns ``(doc_id, n_hits, first_pos)`` — occurrence count and the
    0-based token offset of the first occurrence.  Repeated terms in
    the phrase are fine (each join round re-filters the same posting
    row)."""
    terms = [t.strip().lower() for t in phrase]
    assert terms and all(terms), "phrase terms must be non-empty"
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.posexplode(_toks(F.col(text_col)))
                        .alias("pos", "term"))
            .filter(F.col("term").isin(terms)))
    per = toks.groupBy("term", "doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("positions"))
    cur = (per.filter(F.col("term") == terms[0])
           .select("doc_id", F.col("positions").alias("starts")))
    for j, t in enumerate(terms[1:], start=1):
        pj = (per.filter(F.col("term") == t)
              .select("doc_id", F.col("positions").alias("_pj")))
        cur = (cur.join(pj, "doc_id")
               .select("doc_id",
                       F.filter("starts", lambda s: F.array_contains(
                           F.col("_pj"), s + j)).alias("starts"))
               .filter(F.size("starts") > 0))
    return cur.select("doc_id",
                      F.size("starts").alias("n_hits"),
                      F.array_min("starts").alias("first_pos"))


def phrase_hits_sql(docs_sql: str, phrase: list[str],
                    text_expr: str = "text",
                    id_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`phrase_hits` via a direct scan: starts =
    1-based token indexes i where tk[i+j] == term_j for all j (emitted
    0-based)."""
    terms = [t.strip().lower() for t in phrase]
    cond = " AND ".join(f"tk[i + {j}] = '{t}'" for j, t in enumerate(terms))
    return f"""
WITH _ph_t AS (
  SELECT {id_expr} AS doc_id,
         CASE WHEN trim(lower({text_expr})) = '' THEN []
              ELSE regexp_split_to_array(trim(lower({text_expr})), '\\s+')
         END AS tk
  FROM ({docs_sql})
), _ph_s AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) - {len(terms)} + 2),
                     i -> {cond}) AS starts
  FROM _ph_t WHERE len(tk) >= {len(terms)}
)
SELECT doc_id, len(starts) AS n_hits,
       cast(list_min(starts) - 1 AS INTEGER) AS first_pos
FROM _ph_s WHERE len(starts) > 0"""


# ---------------------------------------------------------------------------
# More-like-this: document-to-document similarity through the inverted
# index (the vector-space model).  Weight w(t,d) = tf/df — an exact
# rational idf proxy (bigint/bigint double division, deterministic) so
# no libm log enters the contract; cosine = sorted-sequential folds
# (by term) for the dot product and the norms, the pagerank
# determinism pattern — both engines fold the identical sequence.
# Scale shape: the index self-join on term is the candidate generator;
# stop-terms (df > max_df) are dropped BEFORE the join — the same skew
# guard as the shingle tier (a term in every doc would otherwise emit
# N²/2 pairs).  Dot products partial-aggregate per (id_a, id_b).
# ---------------------------------------------------------------------------


def similar_pairs(docs: DataFrame, min_score: float,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_df: int = 1000) -> DataFrame:
    """Unordered doc pairs with TF-IDF-ish cosine >= ``min_score``:
    ``(id_a, id_b, score)``, score rounded to 6 dp.  Terms with document
    frequency above ``max_df`` are excluded from weights AND norms
    (stated: the similarity is over the filtered vocabulary)."""
    from pyspark.sql import Window
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(_toks(F.col(text_col))).alias("term"))
    per = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    per = (per.withColumn("df_count",
                          F.count("*").over(Window.partitionBy("term")))
           .filter(F.col("df_count") <= max_df)
           .select("term", "doc_id",
                   (F.col("tf") / F.col("df_count")).alias("w")))
    # persisted: feeds the norm agg and both self-join sides; released
    # via dedup.release_caches() (the registry contract)
    from geolake_spark.operators.dedup import _persist_tier
    per = _persist_tier(per)

    def fold(items):
        return F.aggregate(F.array_sort(items), F.lit(0.0),
                           lambda acc, x: acc + x["v"])

    norms = (per.groupBy("doc_id")
             .agg(F.sqrt(fold(F.collect_list(
                 F.struct(F.col("term"), (F.col("w") * F.col("w"))
                          .alias("v"))))).alias("norm")))
    a = per.select(F.col("term"), F.col("doc_id").alias("id_a"),
                   F.col("w").alias("wa"))
    b = per.select(F.col("term"), F.col("doc_id").alias("id_b"),
                   F.col("w").alias("wb"))
    dots = (a.join(b, "term").filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(fold(F.collect_list(F.struct(
                F.col("term"),
                (F.col("wa") * F.col("wb")).alias("v")))).alias("dot")))
    out = (dots
           .join(norms.select(F.col("doc_id").alias("id_a"),
                              F.col("norm").alias("na")), "id_a")
           .join(norms.select(F.col("doc_id").alias("id_b"),
                              F.col("norm").alias("nb")), "id_b")
           .select("id_a", "id_b",
                   F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                   .alias("score"))
           .filter(F.col("score") >= min_score))
    return out


def similar_pairs_sql(docs_sql: str, min_score: float,
                      text_expr: str = "text", id_expr: str = "doc_id",
                      max_df: int = 1000) -> str:
    """DuckDB mirror of :func:`similar_pairs` (list_reduce over
    term-ordered contribution lists == the Spark sorted fold)."""
    return f"""
WITH _sp_t AS (
  SELECT {id_expr} AS doc_id, u.term AS term
  FROM (SELECT {id_expr},
               CASE WHEN trim(lower({text_expr})) = '' THEN []
                    ELSE regexp_split_to_array(trim(lower({text_expr})),
                                               '\\s+') END AS tk
        FROM ({docs_sql})) d, unnest(tk) AS u(term)
), _sp_p AS (
  SELECT term, doc_id, cast(count(*) AS BIGINT) AS tf
  FROM _sp_t GROUP BY 1, 2
), _sp_w AS (
  SELECT term, doc_id,
         tf / (count(*) OVER (PARTITION BY term)) AS w,
         count(*) OVER (PARTITION BY term) AS df_count
  FROM _sp_p QUALIFY df_count <= {max_df}
), _sp_n AS (
  SELECT doc_id,
         sqrt(list_reduce(list(w * w ORDER BY term),
                          (acc, x) -> acc + x)) AS norm
  FROM _sp_w GROUP BY doc_id
), _sp_d AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_reduce(list(a.w * b.w ORDER BY a.term),
                     (acc, x) -> acc + x) AS dot
  FROM _sp_w a JOIN _sp_w b USING (term)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / (na.norm * nb.norm), 6) AS score
FROM _sp_d
JOIN _sp_n na ON na.doc_id = id_a
JOIN _sp_n nb ON nb.doc_id = id_b
WHERE round(dot / (na.norm * nb.norm), 6) >= {min_score}"""


def completions(docs: DataFrame, prefix_len: int = 4, k: int = 3,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Query-autocomplete table: for every ``prefix_len``-char prefix,
    the top-``k`` corpus terms by document-INDEPENDENT total frequency
    (ties broken by term asc): ``(prefix, term, freq, rank)``.  Terms
    shorter than the prefix are their own prefix (still completable to
    themselves).  Shape: one token shuffle into the (term) count, then
    a window over the tiny term-count table — vocabulary-sized, not
    corpus-sized."""
    from pyspark.sql import Window
    toks = docs.select(F.explode(_toks(F.col(text_col))).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("freq"))
    pref = counts.withColumn(
        "prefix", F.substring(F.col("term"), 1, prefix_len))
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(),
                                             F.col("term").asc())
    return (pref.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("prefix", "term", "freq",
                    F.col("rank").cast("int").alias("rank")))


def completions_sql(docs_sql: str, prefix_len: int = 4, k: int = 3,
                    text_expr: str = "text") -> str:
    """DuckDB mirror of :func:`completions`."""
    return f"""
WITH _ac_t AS (
  SELECT u.term AS term
  FROM (SELECT CASE WHEN trim(lower({text_expr})) = '' THEN []
               ELSE regexp_split_to_array(trim(lower({text_expr})),
                                          '\\s+') END AS tk
        FROM ({docs_sql})) d, unnest(tk) AS u(term)
), _ac_c AS (
  SELECT term, count(*) AS freq FROM _ac_t GROUP BY term
)
SELECT substring(term, 1, {prefix_len}) AS prefix, term, freq,
       cast(row_number() OVER (PARTITION BY substring(term, 1, {prefix_len})
            ORDER BY freq DESC, term ASC) AS INTEGER) AS rank
FROM _ac_c QUALIFY rank <= {k}"""


# ---------------------------------------------------------------------------
# Champion lists — index-pruned top-k retrieval (Manning IR §7.1.3).
# Exhaustive scoring reads every posting of every query term; champion
# lists keep only each term's top-c postings by tf (ties -> doc_id asc),
# bounding query cost by c*|terms| regardless of df.  The whole plan is
# index-shaped: the tokenize scan filters to the query terms FIRST (at
# 10^12 docs the exchange carries a few postings rows per matching doc,
# never the token stream), both windows share one term-hash exchange,
# and the final top-k is a TakeOrderedAndProject (no global sort).
# Scoring stays rational (tf * (N+1) / df — no libm), summed per doc by
# the sorted-sequential fold (pagerank pattern) so the DuckDB oracle is
# value-hash exact on doubles.  Approximation is by construction: a doc
# outside every query term's champion list scores 0 and cannot surface
# — the documented recall trade (raise c to widen).
# ---------------------------------------------------------------------------


def champion_topk(docs: DataFrame, terms: list[str], k: int = 10,
                  c: int = 64, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` docs for ``terms`` scored over champion lists of size
    ``c``: ``(doc_id, n_terms, score)``, score = sum over matched
    champion terms of ``tf * (N + 1) / df``, ties -> doc_id asc."""
    from pyspark.sql import Window
    qs = sorted({t.strip().lower() for t in terms if t.strip()})
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(_toks(F.col(text_col))).alias("term"))
            .filter(F.col("term").isin(qs)))
    tfs = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    wdf = Window.partitionBy("term")
    wrk = Window.partitionBy("term").orderBy(F.col("tf").desc(),
                                             F.col("doc_id"))
    champ = (tfs.withColumn("df_count", F.count("*").over(wdf))
             .withColumn("rnk", F.row_number().over(wrk))
             .filter(F.col("rnk") <= c))
    n = docs.select(F.count("*").alias("n_docs"))
    scored = (champ.crossJoin(F.broadcast(n))
              .select("doc_id", "term",
                      ((F.col("tf") * (F.col("n_docs") + 1))
                       / F.col("df_count")).alias("w"))
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_terms"),
                   F.aggregate(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("term"), F.col("w").alias("v")))),
                       F.lit(0.0),
                       lambda acc, x: acc + x["v"]).alias("score")))
    return (scored.select("doc_id", "n_terms", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k))


def champion_topk_sql(docs_sql: str, terms: list[str], k: int = 10,
                      c: int = 64, text_expr: str = "text",
                      id_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`champion_topk` (same rank tie-break, same
    rational weights, same term-ordered sequential sum)."""
    qs = sorted({t.strip().lower() for t in terms if t.strip()})
    in_list = ", ".join(f"'{t}'" for t in qs)
    return f"""
WITH _ch_tok AS (
  SELECT {id_expr} AS doc_id, u.term AS term
  FROM (SELECT {id_expr},
               CASE WHEN trim(lower({text_expr})) = '' THEN []
                    ELSE regexp_split_to_array(trim(lower({text_expr})),
                                               '\\s+') END AS tk
        FROM ({docs_sql})) d,
       LATERAL (SELECT unnest(tk) AS term) u
  WHERE u.term IN ({in_list})
), _ch_tf AS (
  SELECT term, doc_id, count(*) AS tf FROM _ch_tok GROUP BY 1, 2
), _ch_rk AS (
  SELECT term, doc_id, tf,
         count(*) OVER (PARTITION BY term) AS df_count,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id) AS rnk
  FROM _ch_tf
), _ch_n AS (
  SELECT count(*) AS n_docs FROM ({docs_sql})
)
SELECT doc_id, count(*) AS n_terms,
       list_sum(list((tf * (n_docs + 1)) / df_count ORDER BY term))
         AS score
FROM _ch_rk CROSS JOIN _ch_n
WHERE rnk <= {c}
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}"""


def keywords_topk(docs: DataFrame, k: int = 3, min_df: int = 1,
                  max_df_frac: float = 0.5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` distinguishing keywords per document ranked by the
    rational tf-idf surrogate ``tf / df`` (monotone in tf·idf for
    ranking — no libm log, so both engines compute the identical
    double) with the (score DESC, term ASC) tie-break.  Terms in more
    than ``max_df_frac`` of the corpus are dropped as stopwords-by-
    statistics; returns ``(doc_id, rank, term, tf, df_count)``.

    Plan: one (term, doc) groupBy, df as a window over the AGGREGATED
    rows (the build_postings trick — postings-sized, never re-reads
    text), then a per-doc rank whose ``rank <= k`` filter executes as
    WindowGroupLimit (no full per-doc sort materializes)."""
    from pyspark.sql import Window
    n_docs = docs.count()
    max_df = int(math.floor(n_docs * max_df_frac))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_toks(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    scored = (tf.withColumn(
        "df_count", F.count("*").over(Window.partitionBy("term")))
        .filter((F.col("df_count") >= min_df)
                & (F.col("df_count") <= max_df))
        .withColumn("score", F.col("tf").cast("double")
                    / F.col("df_count").cast("double")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "term", "tf", "df_count"))


def keywords_topk_sql(docs_sql: str, k: int = 3, min_df: int = 1,
                      max_df_frac: float = 0.5, text_expr: str = "text",
                      id_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`keywords_topk`."""
    return f"""
WITH _kw_d AS (
  SELECT {id_expr} AS doc_id,
         CASE WHEN trim(lower({text_expr})) = '' THEN []
              ELSE regexp_split_to_array(trim(lower({text_expr})), '\\s+')
         END AS tk
  FROM ({docs_sql})
), _kw_n AS (
  SELECT cast(floor(count(*) * {max_df_frac!r}) AS BIGINT) AS max_df FROM _kw_d
), _kw_tf AS (
  SELECT doc_id, u.term AS term, count(*) AS tf
  FROM _kw_d, LATERAL (SELECT unnest(tk)) u(term)
  GROUP BY 1, 2
), _kw_s AS (
  SELECT doc_id, term, tf,
         count(*) OVER (PARTITION BY term) AS df_count
  FROM _kw_tf
)
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY cast(tf AS DOUBLE) / cast(df_count AS DOUBLE) DESC,
                                   term ASC) AS rank,
       term, tf, df_count
FROM _kw_s, _kw_n
WHERE df_count >= {min_df} AND df_count <= max_df
QUALIFY rank <= {k}"""


# ---------------------------------------------------------------------------
# Retrieval over a MATERIALIZED index (the jobs/text_index.py table).
# Query-time cost is index-shaped, not corpus-shaped: no tokenization,
# no df window — tf and df_count were paid once at build time.  With the
# term-hash bucket layout the reader prunes whole partitions before the
# scan (read_index_for_terms), so a query reads the files of its
# |query-term buckets| in a 10^12-doc index, never the rest.
# ---------------------------------------------------------------------------


def read_index_for_terms(spark, table, terms: list[str], n_buckets: int):
    """Bucket-pruned read of a committed postings ``table`` partitioned by
    ``bucket``: compute ``pmod(xxhash64(term), n_buckets)`` of the query
    terms as literals, then read only those buckets' manifests' files.
    ``table.read`` raises ``ValueError`` when none of them is committed."""
    qs = sorted({t.strip().lower() for t in terms if t.strip()})
    buckets = set(spark.range(1).select(*[
        F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)) for t in qs])
        .first()) if qs else set()
    return table.read(spark, partition_filter=lambda p: p["bucket"] in buckets)


def index_topk(index: DataFrame, terms: list[str], n_docs: int,
               k: int = 10) -> DataFrame:
    """Top-``k`` retrieval over postings rows ``(term, df_count,
    doc_id, tf, ...)`` — the :func:`build_postings` /
    jobs/text_index.py schema: ``(doc_id, n_terms, score)`` with the
    champion_topk rational weight ``tf * (n_docs + 1) / df_count`` (no
    libm) summed per doc by the sorted-sequential fold, ties ->
    doc_id asc.  ``n_docs`` is the corpus size the index was built
    from — a catalog-metrics lookup in production, never a data scan.
    Plan: term filter -> one doc_id groupBy -> TakeOrderedAndProject."""
    qs = sorted({t.strip().lower() for t in terms if t.strip()})
    w = ((F.col("tf") * F.lit(int(n_docs) + 1)) / F.col("df_count"))
    hits = (index.filter(F.col("term").isin(qs))
            .select("doc_id", "term", w.alias("w")))
    scored = (hits.groupBy("doc_id")
              .agg(F.count("*").alias("n_terms"),
                   F.aggregate(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("term"), F.col("w").alias("v")))),
                       F.lit(0.0),
                       lambda acc, x: acc + x["v"]).alias("score")))
    return (scored.select("doc_id", "n_terms", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k))


def index_topk_sql(index_sql: str, terms: list[str], n_docs_sql: str,
                   k: int = 10) -> str:
    """DuckDB mirror of :func:`index_topk` over an index relation
    (``n_docs_sql`` is a scalar subquery or literal)."""
    qs = sorted({t.strip().lower() for t in terms if t.strip()})
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in qs)
    return f"""
WITH _ix AS ({index_sql}), _ixn AS (SELECT ({n_docs_sql}) AS n_docs)
SELECT doc_id, count(*) AS n_terms,
       list_sum(list((tf * (n_docs + 1)) / df_count ORDER BY term))
         AS score
FROM _ix CROSS JOIN _ixn
WHERE term IN ({in_list})
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}"""


def rrf_fuse(a: DataFrame, b: DataFrame, k: int = 60,
             id_col: str = "doc_id", score_col: str = "score",
             top_k: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    retrieval lists — the standard hybrid-search combiner (BM25 list +
    ANN list): ``rrf = 1/(k + rank_a) + 1/(k + rank_b)`` with rank by
    (score desc, id asc) within each list and a missing doc
    contributing 0 from that list.  Returns ``(doc_id, rank_a, rank_b,
    rrf)`` sorted by (rrf desc, id), optionally truncated to
    ``top_k``.

    Exactness: ranks are integers, each reciprocal is one division and
    the sum is one add — a fixed op sequence (rounded 9 dp).  Plan:
    one window per list (each list is already top-k sized, not corpus
    sized) + a full outer join on the id."""
    from pyspark.sql import Window

    def ranked(df, name):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        return df.select(F.col(id_col).alias("doc_id"),
                         F.row_number().over(w).alias(name))

    j = ranked(a, "rank_a").join(ranked(b, "rank_b"), "doc_id", "full")
    contrib = (F.when(F.col("rank_a").isNotNull(),
                      F.lit(1.0) / (F.lit(int(k)) + F.col("rank_a")))
               .otherwise(F.lit(0.0))
               + F.when(F.col("rank_b").isNotNull(),
                        F.lit(1.0) / (F.lit(int(k)) + F.col("rank_b")))
               .otherwise(F.lit(0.0)))
    out = (j.select("doc_id", "rank_a", "rank_b",
                    F.round(contrib, 9).alias("rrf"))
           .orderBy(F.col("rrf").desc(), F.col("doc_id")))
    return out.limit(top_k) if top_k else out


def rrf_fuse_sql(a_sql: str, b_sql: str, k: int = 60,
                 id_col: str = "doc_id", score_col: str = "score",
                 top_k: int | None = None) -> str:
    """DuckDB mirror of :func:`rrf_fuse`."""
    lim = f"LIMIT {int(top_k)}" if top_k else ""
    return f"""
WITH _rf_a AS (
  SELECT {id_col} AS doc_id,
         row_number() OVER (ORDER BY {score_col} DESC, {id_col})
           AS rank_a
  FROM ({a_sql})
), _rf_b AS (
  SELECT {id_col} AS doc_id,
         row_number() OVER (ORDER BY {score_col} DESC, {id_col})
           AS rank_b
  FROM ({b_sql})
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, rank_a, rank_b,
       round((CASE WHEN rank_a IS NOT NULL
                   THEN 1.0::DOUBLE / ({int(k)} + rank_a)
                   ELSE 0.0::DOUBLE END)
             + (CASE WHEN rank_b IS NOT NULL
                     THEN 1.0::DOUBLE / ({int(k)} + rank_b)
                     ELSE 0.0::DOUBLE END), 9)
         AS rrf
FROM _rf_a a FULL OUTER JOIN _rf_b b USING (doc_id)
ORDER BY rrf DESC, doc_id {lim}"""
