"""Dedup strategies against planted duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geolake_spark.functions import sim
from geolake_spark.operators import dedup

BASE = ("the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the old broken mill near the river bank today")


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.RandomState(7)
    words = BASE.split()
    rows = []
    for i in range(40):
        w = list(rng.permutation(words))
        rows.append((i, " ".join(w)))
    # planted exact dup of 0 and near-dup of 1 (one word changed)
    rows.append((100, rows[0][1]))
    near = rows[1][1].split()
    near[5] = "changed"
    rows.append((101, " ".join(near)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_finds_planted(docs):
    out = dedup.exact_dedup(docs).filter(F.col("dup_count") > 1).collect()
    assert len(out) == 1
    assert out[0]["keep_id"] == 0 and out[0]["dup_count"] == 2


def test_minhash_estimates_jaccard():
    a = [f"sh{i}" for i in range(100)]
    b = [f"sh{i}" for i in range(50, 150)]  # true J = 50/150 = 1/3
    sa = sim.minhash_signature(a, num_perm=128)
    sb = sim.minhash_signature(b, num_perm=128)
    est = (sa == sb).mean()
    assert abs(est - 1 / 3) < 0.12


def test_minhash_lsh_finds_planted_pairs(docs):
    found = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    out = found.collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 100) in pairs  # exact dup -> sig_sim 1.0
    assert (1, 101) in pairs  # near dup
    # permuted docs share words but not 3-shingles -> no false positives
    assert all(b in (100, 101) for _, b in pairs)
    # the id_b signature join broadcasts neither the pairs-plus-signature
    # side (Spark raises above its broadcast cap) nor the signature tier
    plan = found._jdf.queryExecution().executedPlan().toString()
    second = [ln for ln in plan.splitlines() if "Join [id_b" in ln]
    assert second and all("ShuffledHashJoin" in ln for ln in second), plan


def test_cosine_col_with_dim_rejects_short_vector(spark):
    """With ``dim`` the unrolled fold needs vectors of exactly dim
    elements: a shorter one fails the query instead of giving a cosine."""
    cos = sim.cosine_col(F.col("a"), F.col("b"), dim=3)
    schema = "a array<double>, b array<double>"
    ok = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 1.0, 2.0])], schema)
    assert ok.select(cos).first()[0] == pytest.approx(8.0 / 9.0)
    short = spark.createDataFrame([([1.0, 2.0], [2.0, 1.0, 2.0])], schema)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        short.select(cos).collect()


def test_simhash_planted(docs):
    out = dedup.simhash_pairs(docs, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 100) in pairs
    h = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert h[(0, 100)] == 0


def test_simhash_h8_matches_brute_force(spark):
    """Brute-force Hamming oracle at max_hamming=8: with bands > max_hamming
    the banding is guaranteed total-recall (pigeonhole), so the operator
    output must EQUAL the all-pairs result — regression for the round-1
    4-band version that silently dropped pairs with hamming in [4, 8]."""
    rng = np.random.RandomState(11)
    vocab = [f"word{i}" for i in range(400)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab, 30))))
    for j, nchg in enumerate([1, 2, 3, 4, 6]):
        toks = rows[j][1].split()
        for p in rng.choice(len(toks), nchg, replace=False):
            toks[p] = "alt%d" % p
        rows.append((200 + j, " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)
    # brute force over the operator's own signature definition
    sig_vals = sim.simhash_udf.func(pdf["text"]).to_numpy()
    sigs = {int(d): np.uint64(np.int64(v))
            for d, v in zip(pdf["doc_id"], sig_vals)}
    ids = sorted(sigs)
    exp = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin(int(sigs[ids[i]] ^ sigs[ids[j]])).count("1")
            if h <= 8:
                a, b = sorted((ids[i], ids[j]))
                exp[(a, b)] = h
    # the fixture must actually exercise the recall hole (hamming in [4, 8])
    assert any(4 <= h <= 8 for h in exp.values())
    out = dedup.simhash_pairs(df, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got == exp


def test_simhash_rejects_insufficient_bands(docs):
    with pytest.raises(ValueError, match="bands"):
        dedup.simhash_pairs(docs, max_hamming=8, bands=4)


def test_ngram_jaccard_exact(docs):
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(0, 100)] == 1.0
    assert (1, 101) in pairs


def test_embedding_neardup_lsh_high_threshold(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(20, 16).astype(np.float64)
    rows = [(i, list(base[i])) for i in range(20)]
    rows.append((100, list(base[0] + 1e-6)))  # near-identical to 0
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = dedup.embedding_neardup_pairs(df, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 100)}


def test_embedding_neardup_lsh_recall_sf001(spark):
    """Recall >= 0.9 vs the exact all-pairs result at threshold 0.35 on the
    sf0.01 embeddings (VERDICT round-1: single sign-bucket table had
    unbounded misses; multi-table random-hyperplane LSH bounds them)."""
    df = (spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
          .withColumn("embedding", F.col("embedding").cast("array<double>")))
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_neardup_pairs(df, threshold=0.35).collect()}
    import pyarrow.parquet as pq
    emb = np.array(pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
                   .column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(emb, axis=1)
    cos = (emb @ emb.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(emb), 1)
    exp = {(int(i), int(j)) for i, j in zip(*iu) if round(cos[i, j], 6) >= 0.35}
    # precision: every reported pair is truly above threshold (1-ulp slack)
    assert all(cos[a, b] >= 0.35 - 1e-9 for a, b in got)
    assert len(got & exp) / len(exp) >= 0.9, f"recall {len(got & exp)/len(exp)}"


def test_embedding_neardup_lsh_bucket_cap(spark):
    """A degenerate mega-cluster (every vector in one bucket) is dropped by
    the cap instead of exploding into an all-pairs join."""
    rng = np.random.RandomState(5)
    base = rng.randn(16)
    rows = [(i, list(base + rng.randn(16) * 1e-9)) for i in range(50)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = dedup.embedding_neardup_pairs(df, threshold=0.99, bucket_cap=10)
    assert out.count() == 0  # all buckets oversized -> dropped, no pairs


def test_fast_tokenizer_bit_identical_to_python_split():
    """The vectorized byte-mask tokenizer (round 3) must produce the same
    token FNV hashes and per-doc counts as the per-token Python path for
    any ASCII input, including str.split()'s control-char whitespace; a
    non-ASCII doc in the batch falls back to the exact path."""
    import numpy as np
    import pandas as pd
    from geolake_spark.functions import sim
    cases = ["", " ", "a", "  a  b  ", "a\tb\nc\x0bd\x0ce\rf",
             "x\x1cy\x1dz\x1eq\x1fw", "Hello WORLD  MiXeD", "end space ",
             " lead", "\n\n", "a" * 300, "tok " * 500, "\x1c\x1d  \x1f"]
    t = pd.Series(cases)
    hv_fast, c_fast = sim._token_hashes_batch(t)
    toks, c_slow = sim._tokenize_batch(t)
    assert np.array_equal(c_fast, c_slow)
    assert np.array_equal(hv_fast, sim._hash_shingles(toks))
    assert list(c_fast) == [len(s.split()) for s in cases]
    t2 = pd.Series(["tëst ünïcode", "plain ascii"])
    assert sim._tokenize_flat(t2) is not None  # r4: unicode stays fast-path
    hv2, c2 = sim._token_hashes_batch(t2)
    toks2, c2s = sim._tokenize_batch(t2)
    assert np.array_equal(hv2, sim._hash_shingles(toks2))
    assert np.array_equal(c2, c2s)
    t3 = pd.Series(["a", None, "b"])
    assert sim._tokenize_flat(t3) is None  # non-str -> exact fallback


def test_utf8_tokenizer_bit_identical_on_mixed_scripts():
    """Round-4 UTF-8 byte-mask tokenizer: for any mix of scripts and any
    Unicode whitespace char str.split() honors, the vectorized path must
    yield the same token FNV hashes and per-doc counts as the exact
    per-token path (VERDICT r3 #1 — real web corpora are mostly
    non-ASCII, and until r4 one such doc reverted the whole batch to
    per-token Python)."""
    import random

    import numpy as np
    import pandas as pd

    from geolake_spark.functions import sim

    fixed = [
        "Füße GRÖẞE straße im café",
        "日本語　テキスト　です spaces",
        "nbsp separated tokens and linesep para",
        "Привет мир ЭТО ТЕКСТ",
        "İstanbul I İ dotted",         # lower() changes byte LENGTH (İ -> i̇)
        "emoji 😀 token  ogham ",
        "thin space narrow medium math",
        "nel\x85between\x85tokens",
        "", "   ", "　　",
    ]
    t = pd.Series(fixed)
    fast = sim._tokenize_flat(t)
    assert fast is not None
    flat, offs, lens, counts = fast
    toks, c_slow = sim._tokenize_batch(t)
    assert np.array_equal(counts, c_slow)
    assert np.array_equal(sim._fnv_flat(flat, offs, lens),
                          sim._hash_shingles(toks))
    # byte slices decode to exactly str.split()'s tokens
    rec = [bytes(flat[o:o + l]).decode("utf-8")
           for o, l in zip(offs, lens)]
    assert rec == toks

    # fuzz over the COMPLETE isspace() codepoint set (split's predicate)
    ws_chars = [c for c in map(chr, range(0x110000)) if c.isspace()]
    alphabet = list("abcXYZ09") + ["中", "ß", "İ", "é", "Ж", "😀", "ᚠ"]
    rng = random.Random(42)
    for _ in range(25):
        docs = []
        for _ in range(rng.randint(1, 30)):
            parts = []
            for _ in range(rng.randint(0, 25)):
                parts.append(rng.choice(alphabet) * rng.randint(1, 4))
                parts.append(rng.choice(ws_chars) * rng.randint(1, 3))
            docs.append("".join(parts))
        s = pd.Series(docs)
        flat, offs, lens, counts = sim._tokenize_flat(s)
        toks, c_slow = sim._tokenize_batch(s)
        assert np.array_equal(counts, c_slow)
        assert np.array_equal(sim._fnv_flat(flat, offs, lens),
                              sim._hash_shingles(toks))


def test_connected_components_matches_union_find(spark):
    """Min-label propagation vs a driver-side union-find on a random graph
    (chains, triangles, isolated pairs, multi-component)."""
    import numpy as np
    rng = np.random.RandomState(5)
    n = 200
    edges = set()
    while len(edges) < 150:
        a, b = int(rng.randint(n)), int(rng.randint(n))
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        pd.DataFrame(sorted(edges), columns=["id_a", "id_b"]))
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    exp = {v: find(v) for v in touched}
    # canonical: min member per root
    roots = {}
    for v in sorted(touched):
        roots.setdefault(find(v), v)
    exp = {v: roots[find(v)] for v in touched}
    assert got == exp


def test_dedup_keep_representatives(spark):
    """dedup_keep drops every non-representative member of a component and
    keeps untouched rows."""
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["a", "a'", "a''", "b", "b'", "solo"]}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [1, 2, 4], "id_b": [2, 3, 5]}))
    kept = sorted(r["doc_id"]
                  for r in dedup.dedup_keep(df, pairs).collect())
    assert kept == [1, 4, 6]


def test_connected_components_diameter_guard(spark):
    """A chain longer than max_iters must raise, not silently return
    half-merged components."""
    chain = pd.DataFrame({"id_a": range(9), "id_b": range(1, 10)})
    pairs = spark.createDataFrame(chain)
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(pairs, max_iters=2)
    out = dedup.connected_components(pairs, max_iters=15).collect()
    assert {r["component"] for r in out} == {0}


def test_connected_components_path_graph_log_rounds(spark):
    """Round 4: alternating large-star/small-star must converge in O(log n)
    rounds on the worst case for label propagation — a long path.  10k-node
    path: old min-label propagation needed ~10k rounds (it raised at
    max_iters); star contraction must finish well under 15 and produce the
    single correct component."""
    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id as id_a", "id + 1 as id_b")
    stats = {}
    comp = dedup.connected_components(pairs, max_iters=20, stats=stats)
    rows = comp.collect()
    assert stats["rounds"] < 15, stats
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}
    assert {r["id"] for r in rows} == set(range(n))


def test_dedup_release_caches(spark):
    """The pair generators persist intermediate tiers; release_caches()
    must unpersist every one of them (round-4 ADVICE: a long-lived session
    otherwise accumulates cached blocks without bound)."""
    import pandas as pd
    docs = pd.DataFrame({
        "doc_id": range(40),
        "text": [f"alpha beta gamma delta epsilon zeta token{i}" for i in range(40)],
    })
    df = spark.createDataFrame(docs)
    dedup.release_caches()  # clean slate
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.5)
    pairs.count()
    sh = dedup.simhash_pairs(df)
    sh.count()
    released = dedup.release_caches()
    # 4 tiers: each pair generator persists its signature tier AND (cap
    # active by default) its banded tier
    assert released == 4
    assert dedup._TIERS == []
    # idempotent
    assert dedup.release_caches() == 0


def test_minhash_lsh_multiscript_planted(spark):
    """Planted near-dups in non-Latin scripts must be found exactly like
    ASCII ones (round 4 — guards the dedup path against ASCII-only blind
    spots; the corpus generator is the same one bench's minhash_sigs_uni
    uses)."""
    from geolake_spark.sources import synth
    tbl = synth.gen_docs_multiscript(300, seed=11)
    base = spark.createDataFrame(tbl.to_pandas())
    # exact dup of doc 0 and near-dup (two words appended) of one RU doc
    ru_id = next(r["doc_id"] for r in base.filter(F.col("lang") == "ru")
                 .select("doc_id").limit(1).collect())
    extra = base.filter(F.col("doc_id").isin([0, int(ru_id)])).selectExpr(
        "doc_id + 1000 as doc_id",
        "case when doc_id = 0 then text else concat(text, ' хвост конец') end as text",
        "lang")
    corpus = base.unionByName(extra)
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    dedup.release_caches()
    assert (0, 1000) in pairs
    assert (int(ru_id), int(ru_id) + 1000) in pairs


def test_bucket_pairs_no_self_pairs_on_duplicate_ids(spark):
    """A doc_id ingested twice lands twice in a band bucket; the pair
    generator must not emit (x, x) (round-4 review fix — the collect_list
    path produced self-pairs where the old strict-< join emitted none)."""
    import pandas as pd
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(3)]
    rows.append((1, "alpha beta gamma delta epsilon zeta"))  # dup id 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    dedup.release_caches()
    assert all(r["id_a"] != r["id_b"] for r in out)
    assert all(r["id_a"] < r["id_b"] for r in out)


def test_bucket_pairs_streams_mega_bucket(spark):
    """A degenerate bucket (here: 3000 empty-shingle docs sharing the
    sentinel signature) must stream its pairs row-at-a-time, not
    materialize one k^2/2 flattened array per bucket (round-4 review fix).
    3000 docs -> ~4.5M pairs; with the single-row flatten this allocated
    one 4.5M-struct array per band — at web scale one such bucket OOMs an
    executor."""
    df = spark.range(3000).selectExpr("id as doc_id", "'ab' as text")
    n = dedup.minhash_lsh_pairs(df, threshold=0.5).count()
    dedup.release_caches()
    assert n == 3000 * 2999 // 2


def test_connected_components_keeps_self_pair_only_ids(spark):
    """An id appearing only in a self-pair (x, x) must still get a label
    (itself) — the contract is a label for every id in ``pairs``
    (round-4 review fix)."""
    pairs = spark.createDataFrame(
        [(1, 2), (5, 5), (2, 3)], "id_a: long, id_b: long")
    rows = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 5: 5}


def test_release_caches_is_thread_local(spark):
    """release_caches() in one thread must not touch tiers registered by
    another (round-4 review fix — concurrent request pipelines)."""
    import threading

    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(10),
         "text": [f"alpha beta gamma delta tok{i}" for i in range(10)]}))
    dedup.release_caches()
    dedup.minhash_lsh_pairs(df, threshold=0.5).count()  # tier in MAIN thread
    other = {}
    def worker():
        other["released"] = dedup.release_caches()
    t = threading.Thread(target=worker)
    t.start(); t.join()
    assert other["released"] == 0           # other thread sees nothing
    assert dedup.release_caches() == 2      # ours (sigs + banded) released now


def test_release_caches_sweeps_dead_thread_tiers(spark):
    """A tier persisted by a thread that exited without releasing must be
    reclaimable from another thread (round-4 review fix: per-request
    worker threads die after the plan runs; a purely thread-local
    registry leaked their tiers forever)."""
    import threading

    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(10),
         "text": [f"alpha beta gamma delta tok{i}" for i in range(10)]}))
    dedup.release_caches(all_threads=True)
    def worker():
        dedup.minhash_lsh_pairs(df, threshold=0.5).count()
        # dies WITHOUT releasing
    t = threading.Thread(target=worker)
    t.start(); t.join()
    assert dedup.release_caches() == 2  # dead thread's tiers swept


def test_minhash_bucket_cap_drops_template_cluster(spark):
    """A templated-page cluster of k near-identical (NOT byte-identical)
    docs shares most band buckets and would emit ~k^2/2 candidates — the
    one plan shape that doesn't survive 100x on boilerplate-heavy web
    corpora.  The cap must (a) bound the output without the mega-bucket
    ever materializing (count pre-filter), (b) report the drops."""
    import pandas as pd
    template = ("breaking news site navigation home about contact terms "
                "privacy copyright all rights reserved subscribe footer "
                "header menu search login register archive category tags")
    rows = [(i, f"{template} page{i}") for i in range(20_000)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    stats: dict = {}
    n = dedup.minhash_lsh_pairs(df, threshold=0.5, stats=stats).count()
    dedup.release_caches()
    assert stats["bucket_cap"] == dedup.DEFAULT_BAND_BUCKET_CAP
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_rows"] > dedup.DEFAULT_BAND_BUCKET_CAP
    # without the cap this cluster emits ~2e8 candidate pairs
    assert n < 5_000_000


def test_minhash_bucket_cap_exact_boundary(spark):
    """cap >= cluster size keeps every pair; cap < cluster size drops the
    shared buckets (deterministic boundary, small corpus)."""
    import pandas as pd
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(30)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kept = dedup.minhash_lsh_pairs(df, threshold=0.5, bucket_cap=30).count()
    dedup.release_caches()
    stats: dict = {}
    dropped = dedup.minhash_lsh_pairs(df, threshold=0.5, bucket_cap=29,
                                      stats=stats).count()
    dedup.release_caches()
    assert kept == 30 * 29 // 2
    assert dropped == 0
    assert stats["dropped_buckets"] == 16  # all 16 band buckets identical
    assert stats["dropped_rows"] == 30 * 16


def test_simhash_bucket_cap(spark):
    """Same skew guard on the SimHash chunk buckets."""
    import pandas as pd
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(30)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    stats: dict = {}
    n = dedup.simhash_pairs(df, max_hamming=8, bucket_cap=29,
                            stats=stats).count()
    dedup.release_caches()
    assert n == 0
    assert stats["dropped_buckets"] == 9  # bands = max_hamming + 1


def test_connected_components_survives_fingerprint_collision(spark, monkeypatch):
    """Force the cheap fingerprint to ALWAYS collide: convergence must now
    come from the exact exceptAll confirm, never from the hash — a real
    2^-64 collision on a changed edge set must keep contracting instead of
    silently emitting wrong components (round-5 ADVICE fix)."""
    monkeypatch.setattr(dedup, "_edge_fingerprint", lambda edges: (0, 0))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a: long, id_b: long")
    rows = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert rows == {i: 1 for i in range(1, 9)}


def test_minhash_signatures_table_resume(spark, tmp_path):
    """signatures_table= materializes the signature tier through the
    snapshot-commit layer; a run killed between the signature commit and
    the pair join resumes WITHOUT recomputing signatures (round-5 VERDICT
    task: at 100 TB the tier is a table, not executor cache)."""
    import os

    import pandas as pd
    rows = [(i, f"alpha beta gamma delta epsilon tok{i} zeta eta theta")
            for i in range(40)]
    rows += [(100 + i, rows[i][1] + " tail") for i in range(5)]  # near-dups
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    root = str(tmp_path / "sigs")
    p1 = sorted((r["id_a"], r["id_b"]) for r in
                dedup.minhash_lsh_pairs(df, threshold=0.5,
                                        signatures_table=root).collect())
    assert len(p1) >= 5
    assert os.path.exists(os.path.join(root, "metadata", "version-hint.txt"))
    # "killed between signature write and pair join": the tier is
    # committed; the resumed run must READ it, never re-run the UDF — a
    # corpus with the same ids but different text proves it (recompute
    # would change every signature and kill the planted pairs)
    scrambled = df.withColumn("text", F.reverse(F.col("text")))
    p2 = sorted((r["id_a"], r["id_b"]) for r in
                dedup.minhash_lsh_pairs(scrambled, threshold=0.5,
                                        signatures_table=root).collect())
    assert p2 == p1
    # the tier is read through the manifests: a partition directory that
    # no snapshot lists (here a stray copy of a committed one) is ignored
    import shutil
    from geolake_spark.catalog import IcebergishTable
    table = IcebergishTable(root)
    first = table.manifests()[0]["files"][0]
    shutil.copytree(os.path.dirname(os.path.join(table.data_dir, first)),
                    os.path.join(table.data_dir, "sig_part=99"))
    sigs = dedup._signatures_from_table(dedup.minhash_signatures(df), root,
                                        dedup.SIGNATURE_PARTITIONS)
    assert sorted(r.id for r in sigs.select("id").collect()) == \
        sorted(r[0] for r in rows)
    # a kill BEFORE the commit leaves no snapshot -> full recompute, same
    # pairs from the true corpus
    shutil.rmtree(os.path.join(root, "metadata"))
    shutil.rmtree(os.path.join(root, "data"))
    p3 = sorted((r["id_a"], r["id_b"]) for r in
                dedup.minhash_lsh_pairs(df, threshold=0.5,
                                        signatures_table=root).collect())
    assert p3 == p1


def _mk_incr_corpus(spark):
    """Deterministic corpus split for the incremental tests: docs 0-29 are
    OLD, 30-49 NEW; near-dup clusters planted within old (2, 3), within
    new (40, 41) and across (10 old ~ 45 new)."""
    rng = np.random.RandomState(13)
    words = BASE.split()
    rows = []
    for i in range(50):
        rows.append((i, " ".join(rng.permutation(words))))

    def mutate(text, slot):
        w = text.split()
        w[slot] = "mutated"
        return " ".join(w)

    rows[3] = (3, mutate(rows[2][1], 4))     # old x old near-dup
    rows[41] = (41, mutate(rows[40][1], 6))  # new x new near-dup
    rows[45] = (45, mutate(rows[10][1], 8))  # old x new near-dup
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    return df.filter(F.col("doc_id") < 30), df.filter(F.col("doc_id") >= 30), df


def test_incremental_equals_batch_difference(spark):
    """The defining invariant: incr(new, old) == batch(old UNION new)
    minus batch(old), as (id_a, id_b, sig_sim) sets."""
    old, new, both = _mk_incr_corpus(spark)
    batch_all = {tuple(r) for r in
                 dedup.minhash_lsh_pairs(both, threshold=0.5).collect()}
    batch_old = {tuple(r) for r in
                 dedup.minhash_lsh_pairs(old, threshold=0.5).collect()}
    incr = {tuple(r) for r in
            dedup.minhash_lsh_pairs_incremental(new, old,
                                                threshold=0.5).collect()}
    dedup.release_caches()
    assert incr == batch_all - batch_old
    ids = {(a, b) for a, b, _ in incr}
    assert (40, 41) in ids and (10, 45) in ids  # new x new, old x new
    assert (2, 3) not in ids                    # old x old suppressed


def test_incremental_accepts_signature_frame(spark):
    """Passing a precomputed (id, minhash) frame for old must match the
    raw-docs form — and proves the old TEXT is never needed (the frame is
    what a committed signatures table read returns)."""
    old, new, _ = _mk_incr_corpus(spark)
    via_docs = {tuple(r) for r in
                dedup.minhash_lsh_pairs_incremental(new, old,
                                                    threshold=0.5).collect()}
    old_sigs = dedup.minhash_signatures(old)
    via_sigs = {tuple(r) for r in
                dedup.minhash_lsh_pairs_incremental(new, old_sigs,
                                                    threshold=0.5).collect()}
    dedup.release_caches()
    assert via_docs == via_sigs and via_docs


def test_incremental_old_pairs_suppressed_in_hot_bucket(spark):
    """Two OLD near-dups sharing a band bucket with a NEW doc: the bucket
    is hot (survives pruning), but the old x old pair must still not be
    emitted — the filter lives inside the pair-generating HOF."""
    rng = np.random.RandomState(17)
    words = BASE.split()
    base_text = " ".join(rng.permutation(words))

    def mutate(slot, word="zz"):
        w = base_text.split()
        w[slot] = word
        return " ".join(w)

    old = spark.createDataFrame(pd.DataFrame(
        [(1, base_text), (2, mutate(3))], columns=["doc_id", "text"]))
    new = spark.createDataFrame(pd.DataFrame(
        [(9, mutate(7, "qq"))], columns=["doc_id", "text"]))
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs_incremental(new, old,
                                                 threshold=0.5).collect()}
    dedup.release_caches()
    assert (1, 9) in pairs and (2, 9) in pairs
    assert (1, 2) not in pairs


# ---------------------------------------------------------------------------
# Winnowing substring-overlap (round 5)
# ---------------------------------------------------------------------------


def test_winnow_detects_planted_passage(spark):
    """The winnowing guarantee: any shared token run >= w + k - 1 selects
    at least one identical fingerprint in both docs — even when the docs
    are globally dissimilar (whole-doc MinHash would score ~0)."""
    passage = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
               "lambda mu")  # 12 tokens >= w + k - 1 = 10
    mk = lambda seed, n: " ".join(f"u{seed}q{j}" for j in range(n))
    rows = [
        (1, mk(1, 30) + " " + passage + " " + mk(11, 30)),
        (2, mk(2, 25) + " " + passage + " " + mk(22, 35)),
        (3, mk(3, 60)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.winnow_overlap_pairs(df, k=3, w=8, min_shared=1).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnow_short_docs_select_nothing(spark):
    df = spark.createDataFrame(
        [(1, "only nine tokens here not enough for a window"),
         (2, "only nine tokens here not enough for a window")],
        "doc_id bigint, text string")  # 9 tokens < w + k - 1 = 10
    assert dedup.winnow_overlap_pairs(df, k=3, w=8, min_shared=1).count() == 0


def test_winnow_bucket_cap_drops_template_fingerprint(spark):
    """A fingerprint shared by more docs than bucket_cap is template
    noise and must be dropped by the count pre-filter with accounting."""
    passage = " ".join(f"tpl{j}" for j in range(12))
    rows = [(i, f"lead{i}x opener words " + passage + f" trail{i}y closer")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats = {}
    out = dedup.winnow_overlap_pairs(df, k=3, w=8, min_shared=1,
                                     bucket_cap=10, stats=stats)
    n = out.count()
    dedup.release_caches()
    assert stats["dropped_buckets"] >= 1 and stats["dropped_rows"] >= 11
    # capped run emits far fewer than the 30*29/2 all-pairs blowup
    assert n < 30 * 29 // 2


# ------------------------------------------------------ duplicate_chunks

def test_duplicate_chunks_position_invariant(spark):
    """the same passage at DIFFERENT offsets chunks identically —
    the content-defined property fixed shingle grids lack"""
    from geolake_spark.operators import dedup as dd
    # 'bravo'/'charlie'/'india' have md5-bucket 0 at g=4 (chunk
    # starters); the passage therefore contains complete interior
    # chunks [bravo..] and [charlie..] no matter what surrounds it
    shared = ("bravo alpha delta echo charlie golf hotel juliet "
              "india kilo lima mike")
    rows = [(1, "foxtrot foxtrot " + shared + " tail one"),
            (2, shared + " other tail"),
            (3, "totally different content with no repeats at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.duplicate_chunks(df, avg_tokens=4, min_docs=2).collect()
    # interior chunks 'bravo alpha delta echo' and
    # 'charlie golf hotel juliet' are shared; the india-chunk absorbs
    # each doc's distinct tail and must NOT match
    assert {r.chunk_tokens for r in out} == {4}
    assert len(out) == 2
    for r in out:
        assert r.n_docs == 2 and r.n_occ == 2    # docs 1+2 only


def test_duplicate_chunks_single_shuffle_then_rollup(spark):
    from geolake_spark.operators import dedup as dd
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = dd.duplicate_chunks(df)._jdf.queryExecution() \
        .executedPlan().toString()
    # window shuffle + final chunk groupBy; the (doc, chunk) rollup
    # must reuse the window's hash partitioning
    assert plan.count("Exchange hashpartitioning") == 2


def test_duplicate_chunks_matches_duckdb(spark):
    import duckdb
    from geolake_spark.operators import dedup as dd
    rows = [(i, " ".join(
        f"w{(i * 17 + j * j) % 23}" for j in range(30))
        + (" common tail phrase here" if i % 2 == 0 else ""))
        for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, dd.duplicate_chunks(
        df, avg_tokens=4).collect()))
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    ora = sorted(map(tuple, duckdb.sql(dd.duplicate_chunks_sql(
        f"SELECT * FROM (VALUES {vals}) t(doc_id, text)",
        avg_tokens=4)).fetchall()))
    assert out == ora and len(out) > 0


# ------------------------------------------------------ rendezvous_shards

def test_rendezvous_minimal_movement(spark):
    """HRW property: n -> n+1 shards relocates ONLY keys won by the new
    shard (~1/(n+1)); every move targets the new shard."""
    from geolake_spark.operators import dedup as dd
    df = spark.range(0, 600).withColumnRenamed("id", "doc_id")
    a = {r.id: r.shard for r in dd.rendezvous_shards(df, 5).collect()}
    b = {r.id: r.shard for r in dd.rendezvous_shards(df, 6).collect()}
    moved = [k for k in a if a[k] != b[k]]
    assert all(b[k] == 5 for k in moved)       # moves only to shard 5
    assert 0 < len(moved) < 600 * 2 // 6       # ~100 expected, < 200
    # balance sanity: every shard owns something
    assert set(b.values()) == set(range(6))
