"""BM25 relevance search (operators/search.py) vs a straight Python
reimplementation of the Robertson/Lucene formula."""

import math

import pytest

from geolake_spark.operators import search


def _bm25_ref(corpus: dict[int, str], terms: list[str],
              k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    terms = sorted(set(terms))
    toks = {i: t.strip().lower().split() for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        if not any(t in v for t in terms):
            continue
        s = 0.0
        for t in terms:
            tf = v.count(t)
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        out[i] = round(s, 6)
    return out


CORPUS = {
    1: "spark shuffles data across the cluster",
    2: "spark spark spark tuning guide spark",
    3: "duckdb runs on one node",
    4: "the cluster scheduler assigns spark executors to the cluster",
    5: "",
}


def test_bm25_matches_reference(spark):
    df = spark.createDataFrame(list(CORPUS.items()),
                               "doc_id bigint, text string")
    got = {r.doc_id: r.score for r in
           search.bm25_scores(df, ["spark", "cluster"]).collect()}
    want = _bm25_ref(CORPUS, ["spark", "cluster"])
    assert set(got) == set(want)          # doc 3 and the empty doc absent
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=2e-6), i


def test_bm25_ranking_sanity(spark):
    """More occurrences of the query term outrank fewer (equal lengths);
    the term-free doc never appears."""
    rows = [(1, "apple pie apple tart apple"), (2, "apple pie lemon tart cake"),
            (3, "lemon pie lemon tart cake")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.score for r in
           search.bm25_scores(df, ["apple"]).collect()}
    assert set(got) == {1, 2} and got[1] > got[2] > 0


def test_bm25_duplicate_terms_collapse_and_empty_raises(spark):
    df = spark.createDataFrame([(1, "x y")], "doc_id bigint, text string")
    a = search.bm25_scores(df, ["x", "x", "y"]).collect()
    c = search.bm25_scores(df, ["x", "y"]).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in c]
    with pytest.raises(AssertionError):
        search.bm25_scores(df, [])


def test_bm25_duckdb_parity_random_corpus(spark):
    """Spark and the SQL mirror agree on a 200-doc corpus with ties,
    repeats and misses."""
    import duckdb
    rows = [(i, " ".join(f"w{(i * 7 + j * 3) % 11}" for j in range(i % 9)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    terms = ["w0", "w3", "w10"]
    got = sorted(tuple(r) for r in search.bm25_scores(df, terms).collect())
    con = duckdb.connect()
    con.register("docs_py", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]))
    want = sorted(con.sql(search.bm25_scores_sql(
        "SELECT doc_id, text FROM docs_py", terms)).fetchall())
    assert len(got) == len(want)
    for (gi, gs), (wi, ws) in zip(got, want):
        assert gi == wi and gs == pytest.approx(ws, abs=2e-6)


# ---------------------------------------------------------------------------
# Co-occurrence counts + PMI
# ---------------------------------------------------------------------------


def test_cooccurrence_counts_hand_checked(spark):
    from pyspark.sql import functions as F
    docs = spark.createDataFrame([
        (1, "red blue"), (2, "blue red red"), (3, "red green"),
        (4, "blue"), (5, ""),
    ], "doc_id long, text string")
    out = {(r.token_a, r.token_b): (r.pair_count, r.count_a, r.count_b,
                                    r.n_docs)
           for r in search.cooccurrence_counts(docs, min_count=1).collect()}
    # doc-level distinct: (blue, red) in docs 1+2; counts: blue 3, red 3,
    # green 1; n_docs counts every input doc incl. the empty one
    assert out[("blue", "red")] == (2, 3, 3, 5)
    assert out[("green", "red")] == (1, 1, 3, 5)
    assert len(out) == 2
    # min_count prunes singletons
    pruned = search.cooccurrence_counts(docs, min_count=2).collect()
    assert [(r.token_a, r.token_b) for r in pruned] == [("blue", "red")]


def test_cooccurrence_cap_and_pmi(spark):
    import math
    from pyspark.sql import functions as F
    # cap: only the first 3 sorted distinct tokens participate
    docs = spark.createDataFrame([(i, "a b c d e") for i in range(4)],
                                 "doc_id long, text string")
    out = search.cooccurrence_counts(docs, max_terms=3, min_count=1)
    rows = out.collect()
    toks = {t for r in rows for t in (r.token_a, r.token_b)}
    assert toks == {"a", "b", "c"} and len(rows) == 3
    pmi = out.withColumn("pmi", search.pmi_col(
        F.col("pair_count"), F.col("count_a"), F.col("count_b"),
        F.col("n_docs"))).collect()
    # every pair co-occurs in every doc: pmi = log(4*4/(4*4)) = 0
    assert all(abs(r.pmi) < 1e-12 for r in pmi)


def _phrase_ref(corpus, phrase):
    out = {}
    k = len(phrase)
    for i, t in corpus.items():
        tk = t.strip().lower().split()
        starts = [p for p in range(len(tk) - k + 1)
                  if tk[p:p + k] == phrase]
        if starts:
            out[i] = (len(starts), starts[0])
    return out


def test_phrase_hits_reference_and_counts(spark):
    corpus = {
        1: "the quick brown fox and the quick brown dog",
        2: "quick brown quick brown quick brown",
        3: "brown quick nothing here",
        4: "the QUICK   Brown fox",       # case + multi-space tokenizer
        5: "",
    }
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_hits, r.first_pos)
           for r in search.phrase_hits(df, ["quick", "brown"]).collect()}
    assert got == _phrase_ref(corpus, ["quick", "brown"])
    assert got[2] == (3, 0) and got[1] == (2, 1)


def test_phrase_hits_repeated_term_and_single(spark):
    corpus = {1: "a b a b a", 2: "b a b", 3: "c c c"}
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_hits, r.first_pos)
           for r in search.phrase_hits(df, ["a", "b", "a"]).collect()}
    assert got == _phrase_ref(corpus, ["a", "b", "a"]) == {1: (2, 0)}
    single = {r.doc_id: r.n_hits
              for r in search.phrase_hits(df, ["b"]).collect()}
    assert single == {1: 2, 2: 2}
    assert search.phrase_hits(df, ["z", "q"]).count() == 0


def _similar_ref(corpus, min_score, max_df=1000):
    toks = {i: t.strip().lower().split() for i, t in corpus.items()}
    tf = {}
    for i, tk in toks.items():
        for t in tk:
            tf[(t, i)] = tf.get((t, i), 0) + 1
    df = {}
    for (t, _i) in tf:
        df[t] = df.get(t, 0) + 1
    w = {(t, i): c / df[t] for (t, i), c in tf.items() if df[t] <= max_df}
    import math
    norms = {i: math.sqrt(sum(v * v for (t, j), v in sorted(w.items())
                              if j == i)) for i in toks}
    out = {}
    ids = sorted(toks)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            dot = sum(w[(t, a)] * w[(t, b)] for t in sorted(set(toks[a]))
                      if (t, a) in w and (t, b) in w)
            if norms[a] and norms[b]:
                s = round(dot / (norms[a] * norms[b]), 6)
                if s >= min_score:
                    out[(a, b)] = s
    return out


def test_similar_pairs_reference(spark):
    corpus = {
        1: "apache spark distributed compute engine",
        2: "apache spark cluster compute engine fast",
        3: "duckdb single node analytics engine",
        4: "gardening tips for spring tomatoes",
    }
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.score
           for r in search.similar_pairs(df, min_score=0.1).collect()}
    assert got == _similar_ref(corpus, 0.1)
    assert got[(1, 2)] > got.get((1, 3), 0.0)   # near-dup beats topical
    assert (1, 4) not in got and (2, 4) not in got

def test_similar_pairs_stop_terms_excluded(spark):
    # 'the' appears in every doc: with max_df=2 it must not contribute
    # to weights OR norms — identical docs still score 1.0 without it
    corpus = {1: "the alpha beta", 2: "the alpha beta", 3: "the gamma x"}
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.score
           for r in search.similar_pairs(df, 0.05, max_df=2).collect()}
    assert got == _similar_ref(corpus, 0.05, max_df=2)
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got                    # only shared term was 'the'


def test_completions_topk_and_ties(spark):
    corpus = {1: "spark sparse sparta spark spark sparse",
              2: "spark table tablet tab",
              3: "spa"}
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {(r.prefix, r.rank): (r.term, r.freq)
           for r in search.completions(df, prefix_len=4, k=2).collect()}
    # 'spar': spark x4, sparse x2, sparta x1 -> top-2 keeps spark, sparse
    assert got[("spar", 1)] == ("spark", 4)
    assert got[("spar", 2)] == ("sparse", 2)
    assert ("spar", 3) not in got
    # freq tie (table/tablet both 1) -> term asc breaks it
    assert got[("tabl", 1)] == ("table", 1)
    assert got[("tabl", 2)] == ("tablet", 1)
    # terms shorter than the prefix are their own prefix
    assert got[("spa", 1)] == ("spa", 1)
    assert got[("tab", 1)] == ("tab", 1)


def test_champion_topk_prunes_and_scores(spark):
    # term 'x': doc 1 tf=3, doc 2 tf=2, doc 3 tf=1 -> c=2 keeps docs 1,2;
    # doc 3 only matches via champion term 'y' (its only posting)
    corpus = {1: "x x x filler", 2: "x x filler", 3: "x y", 4: "filler"}
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_terms, r.score)
           for r in search.champion_topk(df, ["x", "y"], k=10,
                                         c=2).collect()}
    # N=4, df(x)=3, df(y)=1; w = tf*(N+1)/df
    assert got[1] == (1, 3 * 5 / 3)
    assert got[2] == (1, 2 * 5 / 3)
    # doc 3's x posting fell off the champion list; y survives
    assert got[3] == (1, 1 * 5 / 1)
    assert 4 not in got and len(got) == 3


def test_champion_topk_plan_shape(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = (search.champion_topk(df, ["a"], k=5)
            ._jdf.queryExecution().executedPlan().toString())
    # exchange 1 carries partially-aggregated (term, doc) rows out of the
    # token scan; exchange 2 (posting-rows-sized) feeds BOTH windows; the
    # top-k is not a global sort
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("- Window ") == 2
    # rank<=c runs as a group-limit inside the window sort (no full rank
    # materialization) and the top-k is not a global sort
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan


# ----------------------------------------------------------- keywords

def test_keywords_topk_ranking(spark):
    from geolake_spark.operators import search as se
    docs = [
        (1, "common common rare1 mid mid"),
        (2, "common rare2 mid"),
        (3, "common mid"),
        (4, "common zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # 'common' in 4/4 docs -> dropped at max_df_frac 0.5 (max_df=2)
    out = {(r.doc_id, r.rank): (r.term, r.tf, r.df_count)
           for r in se.keywords_topk(df, k=2, max_df_frac=0.5).collect()}
    assert out[(1, 1)] == ("rare1", 1, 1)      # tf/df = 1.0
    assert out[(2, 1)] == ("rare2", 1, 1)
    assert out[(4, 1)] == ("zzz", 1, 1)
    assert (3, 1) not in out or out[(3, 1)][0] != "common"


def test_keywords_tie_breaks_on_term(spark):
    from geolake_spark.operators import search as se
    df = spark.createDataFrame([(1, "beta alpha"), (2, "x")],
                               "doc_id long, text string")
    out = [(r.rank, r.term) for r in se.keywords_topk(
        df, k=2, max_df_frac=1.0).collect() if r.doc_id == 1]
    # equal scores (tf 1, df 1): alphabetical order decides
    assert sorted(out) == [(1, "alpha"), (2, "beta")]


def test_keywords_window_group_limit(spark):
    from geolake_spark.operators import search as se
    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    plan = se.keywords_topk(df, k=2, max_df_frac=1.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_index_topk_matches_champion_semantics(spark):
    # 4 docs; query {x, y}: doc scores from the materialized index must
    # equal hand-computed tf*(N+1)/df sums
    rows = [(1, "x x y"), (2, "x z"), (3, "y y y"), (4, "z z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = search.build_postings(docs)
    out = {r.doc_id: (r.n_terms, r.score)
           for r in search.index_topk(idx, ["x", "y"], n_docs=4,
                                      k=10).collect()}
    # df(x)=2, df(y)=2, N+1=5: doc1 = 2*5/2 + 1*5/2 = 7.5;
    # doc2 = 1*5/2 = 2.5; doc3 = 3*5/2 = 7.5
    assert out == {1: (2, 7.5), 3: (1, 7.5), 2: (1, 2.5)}


def test_read_index_for_terms_prunes_buckets(spark, tmp_path):
    """The committed term-hash layout must let a query read ONLY its
    terms' bucket files (manifest pruning, not row filtering)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.write import write_snapshot

    rows = [(i, f"t{i % 37} common") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = search.build_postings(docs).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(8)))
    table = IcebergishTable(str(tmp_path / "ix"))
    write_snapshot(idx, table, ["bucket"])
    pruned = search.read_index_for_terms(spark, table, ["t3"], n_buckets=8)
    full = table.read(spark)
    assert set(pruned.select("term").distinct().toPandas()["term"]) \
        >= {"t3"}
    # the scan opens only files the query-term bucket's manifest lists
    (bucket,) = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("t3")), F.lit(8))).first()
    listed = {os.path.join(table.data_dir, f) for m in table.manifests()
              if m["partition"]["bucket"] == bucket for f in m["files"]}
    scanned = {urlparse(f).path for f in pruned.inputFiles()}
    assert scanned and scanned <= listed
    # and retrieval over the pruned read equals retrieval over the full
    a = search.index_topk(pruned, ["t3"], n_docs=200, k=50).collect()
    b = search.index_topk(full, ["t3"], n_docs=200, k=50).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_rrf_fuse_hand_checked(spark):
    a = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)],
                              "doc_id long, score double")
    b = spark.createDataFrame([(2, 7.0), (4, 6.0)],
                              "doc_id long, score double")
    got = {r.doc_id: (r.rank_a, r.rank_b, r.rrf)
           for r in search.rrf_fuse(a, b, k=60).collect()}
    assert got[1] == (1, None, round(1 / 61, 9))
    assert got[2] == (2, 1, round(1 / 62 + 1 / 61, 9))
    assert got[3] == (3, None, round(1 / 63, 9))
    assert got[4] == (None, 2, round(1 / 62, 9))
    # doc present in both lists outranks single-list docs
    order = [r.doc_id for r in search.rrf_fuse(a, b, k=60).collect()]
    assert order[0] == 2
