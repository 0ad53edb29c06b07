"""Round-5 corpus operators: C4 line filter (curation.c4_line_filter),
asymmetric containment (dedup.containment_pairs), inverted-index build
(search.build_postings), and SemDeDup (ann.semdedup_keep) — each checked
against a straight-Python reimplementation of the published rule."""

from __future__ import annotations

import os

import numpy as np
import pytest

from geolake_spark.operators import ann, curation, dedup, search

from conftest import ROOT


# ---------------------------------------------------------------------------
# c4_line_filter
# ---------------------------------------------------------------------------

PAGES = {
    # keeper: 3 clean lines survive
    1: "alpha beta gamma delta epsilon zeta.\n"
       "one two three four five six!\n"
       "do you like question marks in lines?\n"
       "short line.",
    # dropped: only 2 lines survive (< min_lines)
    2: "alpha beta gamma delta epsilon.\nanother full line of five words?\n"
       "no terminal punctuation on this one\nshort.",
    # dropped: lorem ipsum page poison (lines themselves are fine)
    3: "alpha beta gamma delta epsilon.\none two three four five!\n"
       "lorem ipsum dolor sit amet line?\n",
    # dropped: curly brace page poison
    4: "alpha beta gamma delta epsilon.\none two three four five!\n"
       "a perfectly good third line here.\nvar x = { broken: 1 };",
    # keeper but javascript line removed
    5: "alpha beta gamma delta epsilon.\n"
       "please enable JavaScript to continue reading.\n"
       "one two three four five!\n"
       'a "quoted" line of five words"\n'
       "trailing words without any stop",
}


def _c4_ref(pages, min_words=5, min_lines=3):
    out = {}
    for i, page in pages.items():
        if "lorem ipsum" in page.lower() or "{" in page:
            continue
        kept = []
        for ln in page.split("\n"):
            t = ln.strip()
            words = [w for w in t.split(" ") if w]
            if (len(words) >= min_words and t[-1:] in '.!?"'
                    and "javascript" not in t.lower()):
                kept.append(ln)  # predicate on trimmed, line kept raw (C4)
        if len(kept) >= min_lines:
            out[i] = ("\n".join(kept), len(kept))
    return out


def test_c4_filter_matches_reference(spark):
    df = spark.createDataFrame(list(PAGES.items()), "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_lines)
           for r in curation.c4_line_filter(df).collect()}
    assert got == _c4_ref(PAGES)
    assert set(got) == {1, 5}              # 2 short, 3 lorem, 4 brace dropped
    assert got[5][1] == 3                  # javascript line removed


def test_c4_filter_predicate_trims_but_keeps_raw_line(spark):
    # the terminal-punct / word-count checks run on the trimmed line, but
    # the kept line is preserved verbatim (C4 retains lines as-is)
    df = spark.createDataFrame(
        [(1, "  padded line of five words.  \n"
             "second full line with stop here!\n"
             "third full line with stop here?")],
        "doc_id long, text string")
    row = curation.c4_line_filter(df).collect()[0]
    assert row.text.startswith("  padded line of five words.  \n")
    assert row.n_lines == 3


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def _shingle_set(text, n=3):
    w = text.strip().lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_containment_embedded_doc(spark):
    quote = "the quick brown fox jumps over the lazy dog"
    wrapper = ("site header menu and navigation links here " + quote +
               " footer copyright terms privacy contact about press jobs")
    other = "completely unrelated words about database query planning today"
    docs = {1: quote, 2: wrapper, 3: other}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.cont_a, r.cont_b)
           for r in dedup.containment_pairs(df, threshold=0.5).collect()}
    sa, sb = _shingle_set(quote), _shingle_set(wrapper)
    inter = len(sa & sb)
    assert got == {(1, 2): (round(inter / len(sa), 6),
                            round(inter / len(sb), 6))}
    ca, cb = got[(1, 2)]
    assert ca == 1.0                       # quote fully contained in wrapper
    jacc = inter / len(sa | sb)
    assert jacc < 0.5 < ca                 # Jaccard dedup would miss this


def test_containment_threshold_on_max_direction(spark):
    # 10-word doc shares its 8 shingles with a 100-word doc: cont_a = 1.0
    # passes, cont_b ~0.08 alone would not — max() direction gates.
    small = " ".join(f"w{i}" for i in range(10))
    big = small + " " + " ".join(f"x{i}" for i in range(90))
    df = spark.createDataFrame([(1, small), (2, big)],
                               "doc_id long, text string")
    rows = dedup.containment_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1 and rows[0].cont_a == 1.0 and rows[0].cont_b < 0.1
    assert dedup.containment_pairs(
        spark.createDataFrame([(2, big)], "doc_id long, text string"),
        threshold=0.0).count() == 0        # no self-pairs


# ---------------------------------------------------------------------------
# build_postings
# ---------------------------------------------------------------------------

CORPUS = {
    1: "spark shuffles data across the cluster",
    2: "spark spark spark tuning guide spark",
    3: "duckdb runs on one node",
    4: "the cluster scheduler assigns spark executors to the cluster",
    5: "",
}


def _postings_ref(corpus, min_df=1):
    toks = {i: t.strip().lower().split() for i, t in corpus.items()}
    per_doc = {}
    for i, tk in toks.items():
        for pos, term in enumerate(tk):
            per_doc.setdefault((term, i), []).append(pos)
    df_count = {}
    for (term, _i) in per_doc:
        df_count[term] = df_count.get(term, 0) + 1
    return {(term, df_count[term], i, len(ps),
             ",".join(str(p) for p in sorted(ps)))
            for (term, i), ps in per_doc.items() if df_count[term] >= min_df}


def test_postings_match_reference(spark):
    df = spark.createDataFrame(list(CORPUS.items()),
                               "doc_id long, text string")
    got = {tuple(r) for r in search.build_postings(df).collect()}
    assert got == _postings_ref(CORPUS)


def test_postings_min_df_and_positions(spark):
    df = spark.createDataFrame(list(CORPUS.items()),
                               "doc_id long, text string")
    got = {tuple(r) for r in search.build_postings(df, min_df=2).collect()}
    assert got == _postings_ref(CORPUS, min_df=2)
    by_key = {(r[0], r[2]): r for r in got}
    assert by_key[("spark", 2)][3] == 4            # tf counts multiplicity
    assert by_key[("spark", 2)][4] == "0,1,2,5"    # ascending 0-based offsets
    assert by_key[("cluster", 4)][4] == "1,8"
    assert all(r[1] >= 2 for r in got)


# ---------------------------------------------------------------------------
# semdedup
# ---------------------------------------------------------------------------

@pytest.fixture()
def sd_vectors(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 5 == 0:  # planted near-duplicate: same direction, tiny noise
            rows.append((1000 + i,
                         [float(x) for x in v + rng.normal(scale=1e-3,
                                                           size=64)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _semdedup_ref(rows, centers, tau):
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    lists = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(-1).argmin(1)
    keep = []
    order = np.argsort(ids)
    for li in np.unique(lists):
        idx = order[lists[order] == li]
        kept = []
        for j in idx:
            v = x[j] / np.linalg.norm(x[j])
            dup = any(round(float(v @ (x[k] / np.linalg.norm(x[k]))), 6)
                      >= tau for k in kept)
            if not dup:
                kept.append(j)
        keep.extend(ids[kept])
    return set(keep)


def test_semdedup_matches_reference(spark, sd_vectors):
    centers = ann.demo_ivf_centers(dim=64, nlist=8)
    got = {r.vec_id for r in
           ann.semdedup_keep(sd_vectors, centers, tau=0.9).collect()}
    rows = [(r.vec_id, r.embedding) for r in sd_vectors.collect()]
    assert got == _semdedup_ref(rows, centers.astype(np.float64), 0.9)
    # every planted duplicate with its original in the same cluster dropped
    assert len(got) < sd_vectors.count()


def test_semdedup_tau_above_one_keeps_all(spark, sd_vectors):
    centers = ann.demo_ivf_centers(dim=64, nlist=8)
    out = ann.semdedup_keep(sd_vectors, centers, tau=1.0000001)
    assert out.count() == sd_vectors.count()


def test_semdedup_lowest_id_is_keeper(spark):
    # two exact duplicates -> the lower id survives
    v = [float(i) for i in range(64)]
    df = spark.createDataFrame([(7, v), (3, v)],
                               "vec_id long, embedding array<double>")
    centers = ann.demo_ivf_centers(dim=64, nlist=4)
    got = [r.vec_id for r in ann.semdedup_keep(df, centers, tau=0.99).collect()]
    assert got == [3]


def test_text_index_job(spark, tmp_path, monkeypatch):
    """jobs/text_index.py: bucketed resumable index; champion-list
    pruning keeps top-K postings per term by (tf desc, doc_id asc)."""
    import runpy
    import sys

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    pin = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(list(CORPUS.items()),
                          "doc_id long, text string").write.parquet(pin)
    table = str(tmp_path / "index")
    argv = ["text_index.py", "--input", pin, "--table", table,
            "--buckets", "2", "--champions", "1", "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/text_index.py"),
                   run_name="__main__")
    rows = {(r.term, r.doc_id): (r.tf, r.df_count)
            for r in spark.read.parquet(table + "/data").collect()}
    # one posting per term; 'spark' champion is doc 2 (tf 4)
    terms = [t for t, _d in rows]
    assert len(terms) == len(set(terms))
    assert rows[("spark", 2)] == (4, 3)       # df counted BEFORE pruning
    assert ("spark", 1) not in rows
    # 'cluster': tf 2 in doc 4 beats tf 1 in doc 1
    assert rows[("cluster", 4)][0] == 2
    monkeypatch.setattr(sys, "argv", argv + ["--resume"])
    runpy.run_path(os.path.join(ROOT, "jobs/text_index.py"),
                   run_name="__main__")
    assert {(r.term, r.doc_id)
            for r in spark.read.parquet(table + "/data").collect()} \
        == set(rows)


# ---------------------------------------------------------------------------
# fuzzy_pairs
# ---------------------------------------------------------------------------

def _lev(a, b):
    import numpy as _np
    d = _np.arange(len(b) + 1)
    for i, ca in enumerate(a, 1):
        prev, d[0] = d[0], i
        for j, cb in enumerate(b, 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                   prev + (ca != cb))
    return int(d[len(b)])


def test_fuzzy_pairs_brute_force(spark):
    names = {1: "blue widget", 2: "blue widgit", 3: "blue widgets",
             4: "red gear", 5: "red bear", 6: "completely different",
             7: "blu widge"}
    df = spark.createDataFrame(list(names.items()), "id long, name string")
    got = {(r.id_a, r.id_b): r.dist
           for r in dedup.fuzzy_pairs(df, max_dist=2).collect()}
    exp = {(a, b): _lev(names[a], names[b])
           for a in names for b in names
           if a < b and _lev(names[a], names[b]) <= 2}
    assert got == exp
    assert got[(1, 2)] == 1 and got[(4, 5)] == 1


def test_fuzzy_pairs_repetitive_strings_not_lost(spark):
    # the length-based count filter would wrongly drop this pair: the
    # distinct-gram bound must keep it (one edit kills <= q gram types)
    df = spark.createDataFrame(
        [(1, "aaaaaaaaaa"), (2, "aaaaxaaaaa")], "id long, name string")
    rows = dedup.fuzzy_pairs(df, max_dist=1).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in rows] == [(1, 2, 1)]


def test_fuzzy_pairs_exact_dups_and_threshold(spark):
    df = spark.createDataFrame(
        [(1, "same name"), (2, "same name"), (3, "sam name"),
         (4, "far away string")], "id long, name string")
    got = {(r.id_a, r.id_b): r.dist
           for r in dedup.fuzzy_pairs(df, max_dist=1).collect()}
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}
