"""Deduplication operators for training-data pipelines.

Five strategies over a documents/pages table, all shuffle-conscious:

* exact          — groupBy(md5(text)), keep min-id representative
* minhash_lsh    — shingle -> MinHash signature (Arrow UDF) -> band bucket
                   join -> signature-similarity filter
* simhash        — 64-bit SimHash, candidate pairs via band equality on
                   16-bit chunks, Hamming-distance filter
* ngram_jaccard  — exact Jaccard on word n-gram sets via shingle equi-join
* embedding near-dup — cosine > threshold via (coarse bucket) self-join

Each returns DataFrames with deterministic representative selection so
results are oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geolake_spark.functions import sim
from geolake_spark.functions.text import fingerprint_col

# ---------------------------------------------------------------------------
# Persisted-tier registry.  The pair generators below persist intermediate
# tiers (signatures / shingles / buckets) because each feeds 2-4 plan
# consumers — without persist Spark re-runs the expensive UDF per consumer.
# Spark cannot know when the CALLER is done with the returned DataFrame, so
# the tiers stay cached until released: long-lived sessions (servers, bench
# loops) must call release_caches() after materializing each result, or
# executor storage grows without bound (round-4 ADVICE fix).
# ---------------------------------------------------------------------------

import threading as _threading
import weakref as _weakref

_TIER_LOCK = _threading.Lock()
# (weakref to owning Thread OBJECT, handle).  NOT the raw ident: CPython
# reuses thread idents after a thread exits, so an ident-keyed registry
# can mistake a new unrelated thread for a dead owner — its unreleased
# tier then looks owned-and-alive and is never swept (round-5 ADVICE fix).
# A weakref can't alias: either the Thread object is the same object, or
# it was collected / is_alive() is False.
_TIERS: list[tuple[_weakref.ref, DataFrame]] = []


def _persist_tier(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel
    handle = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _TIER_LOCK:
        _TIERS.append((_weakref.ref(_threading.current_thread()), handle))
    return handle


def release_caches(blocking: bool = False, all_threads: bool = False) -> int:
    """Unpersist tiers cached by THIS thread's pair-generator calls, plus
    any whose owning thread has exited (a per-request worker thread that
    died without releasing would otherwise leak its tier forever — no
    live thread could ever reach it).  Tiers owned by OTHER live threads
    are left alone so concurrent pipelines can't release each other's
    in-use tiers; ``all_threads=True`` overrides that for session-wide
    cleanup.  Returns how many were released.  Call AFTER fully
    materializing the returned pair DataFrames — a released tier silently
    recomputes (correct but slow) if the pair plan re-executes
    afterwards."""
    me = _threading.current_thread()
    n = 0
    with _TIER_LOCK:
        kept: list[tuple[_weakref.ref, DataFrame]] = []
        for owner_ref, handle in _TIERS:
            owner = owner_ref()
            dead = owner is None or not owner.is_alive()
            if all_threads or owner is me or dead:
                handle.unpersist(blocking)
                n += 1
            else:
                kept.append((owner_ref, handle))
        _TIERS[:] = kept
    return n


def _bucket_pairs(banded: DataFrame, keys: list[str], id_col: str = "id",
                  cap: int | None = None, dedupe: bool = True,
                  stats: dict | None = None,
                  new_col: str | None = None) -> DataFrame:
    """(id_a, id_b) with id_a < id_b for every pair sharing a bucket.

    ONE shuffle: groupBy bucket keys + collect_list, then in-bucket pairs
    via JVM higher-order functions (sorted ids, upper-triangle slice) — the
    round-3 two-sided self-join shuffled the banded table twice and was
    measured 1.5x slower on the 520k-doc bench corpus (identical output).
    Per-bucket work is k^2 either way (the join emits the same k^2 rows);
    ``cap`` drops buckets larger than it (a stated recall trade — the skew
    guard for degenerate mega-buckets: a templated-page cluster of k
    near-identical docs otherwise emits k^2/2 candidates from one bucket),
    ``dedupe=False`` keeps one row per co-occurrence (for intersection
    counting).  Byte-identical mega-clusters belong to exact_dedup, which
    runs first in any real pipeline.

    The cap is enforced BEFORE any bucket materializes: a count-only
    pre-aggregation (map-side partial, a few bytes per bucket) finds the
    surviving keys and a semi-join prunes the banded rows, so an oversized
    bucket never builds its id array in an aggregation buffer (capping
    after collect_list would OOM an executor on exactly the degenerate
    bucket the cap exists for).  With ``stats`` a dict, the drop
    accounting is recorded eagerly: ``dropped_buckets`` / ``dropped_rows``
    (rows = banded entries, i.e. docs x bands landing in killed buckets).

    ``new_col`` (an int 0/1 column on ``banded``) switches to incremental
    emission: only pairs where AT LEAST ONE member is new survive — the
    old-x-old filter sits inside the HOF expression, so already-emitted
    pairs never even reach the distinct's shuffle (the delta-ingest path,
    see :func:`minhash_lsh_pairs_incremental`)."""
    if cap is not None:
        # the banded tier feeds BOTH the count pre-filter and the pair
        # aggregation — without materialization the band explode (and
        # everything upstream of it) runs twice.  It is persisted ALREADY
        # hash-partitioned on the bucket keys: the cache preserves that
        # partitioning, so the count aggregation AND the list aggregation
        # below both run with ZERO further exchange (r6: the unpartitioned
        # tier paid two full shuffles of the banded rows; this shape pays
        # one, inside the cache build).
        banded = _persist_tier(banded.repartition(*keys))
        counts = banded.groupBy(*keys).agg(F.count("*").alias("_bk_n"))
        if stats is not None:
            counts = _persist_tier(counts)
            row = (counts.filter(F.col("_bk_n") > cap)
                   .agg(F.count("*").alias("b"),
                        F.coalesce(F.sum("_bk_n"), F.lit(0)).alias("r"))
                   .first())
            stats["bucket_cap"] = cap
            stats["dropped_buckets"] = int(row["b"])
            stats["dropped_rows"] = int(row["r"])
        # SEMI-join against the PAIR-PRODUCING keys (1 < n <= cap), not
        # anti-join against the oversized ones: singleton buckets are the
        # overwhelming majority on a real corpus, and filtering them here
        # keeps them out of the list aggregation entirely (r6 measured
        # -1.7 s on the 520k bench corpus — the aggregation hash table
        # shrinks from ~7M mostly-singleton groups to the few thousand
        # multi-buckets).  The round-5 reason to avoid a semi-join —
        # "survivors ~= all buckets reshuffles the banded tier" — no
        # longer applies: survivors are now only multi-buckets (usually
        # broadcastable), and even when AQE falls back to a shuffled
        # semi-join the banded side is ALREADY partitioned on the keys,
        # so only the key set moves.
        good = (counts.filter((F.col("_bk_n") > 1)
                              & (F.col("_bk_n") <= cap)).select(*keys))
        banded = banded.join(good, keys, "left_semi")
    if new_col is not None:
        buckets = (banded.groupBy(*keys)
                   .agg(F.collect_list(
                       F.struct(F.col(id_col).alias("id"),
                                F.col(new_col).alias("nw"))).alias("items"))
                   .filter(F.size("items") > 1))
        # array_sort on struct sorts by (id, nw) — same id order as the
        # plain path, so the strict < below keeps identical pair identity
        items = F.array_sort("items")
        buckets = buckets.select(items.alias("items"))
        n = F.size("items")
        expanded = buckets.select(
            "items", F.posexplode("items").alias("i", "a"))
        out = (expanded.select(
            F.col("a.id").alias("id_a"), F.col("a.nw").alias("_nw_a"),
            F.explode(F.slice("items", F.col("i") + 2, n)).alias("b"))
            .filter((F.col("id_a") < F.col("b.id"))
                    & ((F.col("_nw_a") == 1) | (F.col("b.nw") == 1)))
            .select("id_a", F.col("b.id").alias("id_b")))
        return out.distinct() if dedupe else out
    buckets = (banded.groupBy(*keys)
               .agg(F.collect_list(id_col).alias("ids"))
               .filter(F.size("ids") > 1))
    buckets = buckets.select(F.array_sort("ids").alias("ids"))
    n = F.size("ids")
    # two-level explode, NOT one flattened k^2/2 array: a flatten() of all
    # in-bucket pairs materializes them in a single row, which a mega-
    # bucket (e.g. every <n-token doc shares the sentinel signature) turns
    # into one multi-GB array / 2^31-element overflow.  posexplode to one
    # row per (bucket, i) first, then each row's pair tail is <= k
    # elements and the k^2 stream is row-at-a-time, exactly like the old
    # self-join's output.  The strict < filter drops self-pairs that
    # duplicated input ids would otherwise produce ([x, x] buckets),
    # matching the old join's id_a < id_b condition.
    expanded = buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
    out = (expanded.select(
        "id_a",
        F.explode(F.slice("ids", F.col("i") + 2, n)).alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b")))
    return out.distinct() if dedupe else out


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One representative row id per distinct text (min id, deterministic).
    Single hash-shuffle on the fingerprint; map-side partial min."""
    return (df.withColumn("fp", fingerprint_col(F.col(text_col)))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count")))


DEFAULT_BAND_BUCKET_CAP = 8192
SIGNATURE_PARTITIONS = 8


def _signatures_from_table(sig_plan: DataFrame, root: str,
                           n_parts: int) -> DataFrame:
    """Materialize the signature tier as a snapshot-committed catalog
    TABLE and read it back — the 100 TB form of the persisted tier (an
    executor cache dies with the job; a committed table survives it).

    Rows are partitioned by a deterministic id-hash bucket; the write
    goes through write_snapshot(resume=True), so a re-run after a failure
    skips every already-committed bucket (the commit is atomic: either
    the snapshot exists and the whole tier is reusable, or it doesn't
    and the tier recomputes).  Resuming against a DIFFERENT input corpus
    is the caller's contract violation — the table is the checkpoint of
    one input snapshot, exactly like any checkpointed pipeline stage."""
    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.write import write_snapshot
    table = IcebergishTable(root)
    work = sig_plan.withColumn(
        "sig_part", F.pmod(F.xxhash64("id"), F.lit(n_parts)))
    write_snapshot(work, table, ["sig_part"], resume=True)
    return table.read(sig_plan.sparkSession).select("id", "minhash")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 64,
                      bands: int = 16, threshold: float = 0.5,
                      bucket_cap: int | None = DEFAULT_BAND_BUCKET_CAP,
                      stats: dict | None = None,
                      signatures_table: str | None = None) -> DataFrame:
    """Candidate near-dup pairs (a < b) whose MinHash signature similarity
    >= threshold.  Shuffle is on band hashes (small), never all-pairs.
    Signatures are Arrow-batched vectorized NumPy (token-hash combination,
    no per-shingle Python — see sim.make_minhash_udf; the JVM explode-agg
    and per-row-HOF formulations were benchmarked and are 2-10x slower).

    ``bucket_cap`` bounds candidate generation on template-heavy corpora:
    a cluster of k near-identical (not byte-identical, so exact_dedup
    can't collapse them) boilerplate pages shares most band buckets and
    would emit ~k^2/2 candidates; buckets above the cap are dropped BEFORE
    their id list materializes (count pre-filter, see _bucket_pairs) — a
    stated recall trade for bounded memory/shuffle at web scale.  Pass a
    ``stats`` dict to get dropped_buckets / dropped_rows accounting, or
    ``bucket_cap=None`` for exhaustive generation."""
    mh = sim.make_minhash_udf(num_perm=num_perm)
    # Signatures feed the band explode AND the two payload re-joins below;
    # without materialization Spark would re-run the UDF (the dominant
    # cost) once per consumer.  Two tiers: the default persist
    # (MEMORY_AND_DISK executor cache, lifetime = caller's, see
    # release_caches()) for single-job runs, or — with
    # ``signatures_table`` — a snapshot-committed catalog table, which
    # additionally makes the pipeline resumable: a run killed after the
    # signature commit reuses the whole tier on restart instead of
    # re-running the UDF over the corpus.
    sig_plan = df.select(F.col(id_col).alias("id"),
                         mh(F.col(text_col)).alias("minhash"))
    if signatures_table is not None:
        sigs = _signatures_from_table(sig_plan, signatures_table,
                                      SIGNATURE_PARTITIONS)
    else:
        sigs = _persist_tier(sig_plan)
    banded = (sim.lsh_bands(sigs, "minhash", num_perm, bands)
              .select("id", "band_id", "band_hash"))
    # candidates carry ONLY (id_a, id_b) — 16 B/pair; round 2 shuffled both
    # 64-long signatures (~1 KB/pair) through the candidate distinct, and
    # round 3's two-sided self-join shuffled the banded table twice (round
    # 4: one groupBy + in-bucket HOF pairs — see _bucket_pairs).
    # Signatures re-attach via two joins against the persisted tier.  The
    # planner's size estimate for the cached ArrowEvalPython tier reads
    # small (an array column counts a few bytes), so left to itself it
    # broadcast-COLLECTS the whole signature tier as a build side (r6: all
    # 520k rows).  The first join therefore broadcasts the candidate side
    # (16 B/pair, guide §3.1) and streams the tier map-side.  The second
    # join's left side carries a signature per pair, so it must not be
    # broadcast either: Spark 4.1.2 raises above the broadcast cap (8 GB /
    # 512M rows) instead of falling back to a shuffle join, and the driver
    # can run out of memory well before that.  A shuffle-hash hint on the
    # tier makes that join shuffle both sides and build per-partition hash
    # tables from the tier, at any corpus or pair volume.
    cand = _bucket_pairs(banded, ["band_id", "band_hash"], cap=bucket_cap,
                         stats=stats)
    pairs = (F.broadcast(cand)
             .join(sigs.select(F.col("id").alias("id_a"),
                               F.col("minhash").alias("mh_a")), "id_a")
             .join(sigs.select(F.col("id").alias("id_b"),
                               F.col("minhash").alias("mh_b"))
                   .hint("shuffle_hash"), "id_b"))
    matches = F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y:
                                         (x == y).cast("int")), lambda v: v == 1))
    return (pairs.withColumn("sig_sim", matches / F.lit(float(num_perm)))
            .filter(F.col("sig_sim") >= threshold)
            .select("id_a", "id_b", F.round("sig_sim", 6).alias("sig_sim")))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_perm: int = 64) -> DataFrame:
    """Lazy ``(id, minhash)`` signature plan for ``df`` — the unit the
    incremental path stores: compute once per crawl batch, commit through
    the snapshot layer (see ``minhash_lsh_pairs(signatures_table=)``),
    and feed the committed table back as ``old`` on the next increment."""
    mh = sim.make_minhash_udf(num_perm=num_perm)
    return df.select(F.col(id_col).alias("id"),
                     mh(F.col(text_col)).alias("minhash"))


def minhash_lsh_pairs_incremental(new_df: DataFrame, old: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  num_perm: int = 64, bands: int = 16,
                                  threshold: float = 0.5,
                                  bucket_cap: int | None = DEFAULT_BAND_BUCKET_CAP,
                                  stats: dict | None = None) -> DataFrame:
    """Near-dup pairs for a DELTA: every pair involving at least one doc
    of ``new_df`` — new x new and new x old, never old x old (those were
    emitted when the old docs were ingested).  The crawl-cadence form of
    :func:`minhash_lsh_pairs`: at 100 TB a recrawl re-curates the
    increment, not the corpus.

    Exactly ``minhash_lsh_pairs(old UNION new)`` minus
    ``minhash_lsh_pairs(old)`` (asserted by test), at a fraction of the
    cost, via two scale levers:

    * band buckets containing NO new doc are pruned with a left-semi join
      against the new docs' bucket keys BEFORE any bucket materializes —
      the old corpus contributes only the rows that share a bucket with
      the increment (on a large old corpus and a small delta, almost all
      old band rows die here, at the price of a small-side shuffle);
    * inside surviving buckets the old x old pairs are filtered within
      the pair-generating HOF expression (``_bucket_pairs(new_col=)``),
      so they never reach the candidate distinct's shuffle.

    ``old`` is either a raw docs DataFrame (signatures recomputed — the
    small-data convenience) or a ``(id, minhash)`` signatures frame, e.g.
    the snapshot-committed table a previous ``minhash_lsh_pairs(
    signatures_table=)`` run wrote: pass
    ``IcebergishTable(root).read(spark).select("id", "minhash")`` and
    the old corpus' text is never touched.  A recrawled id present in
    both sides pairs with itself only via distinct ids (strict <), but
    its OLD signature row is the caller's to retire — drop recrawled ids
    from ``old`` before calling (the streaming stateful path
    overwrites instead; streaming/stateful.py)."""
    new_sigs = _persist_tier(
        minhash_signatures(new_df, text_col, id_col, num_perm))
    if "minhash" in old.columns:
        old_sigs = old.select("id", "minhash")
    else:
        old_sigs = _persist_tier(
            minhash_signatures(old, text_col, id_col, num_perm))
    keys = ["band_id", "band_hash"]
    banded_new = (sim.lsh_bands(new_sigs, "minhash", num_perm, bands)
                  .select("id", *keys).withColumn("_new", F.lit(1)))
    banded_old = (sim.lsh_bands(old_sigs, "minhash", num_perm, bands)
                  .select("id", *keys).withColumn("_new", F.lit(0)))
    hot = banded_new.select(*keys).distinct()
    banded = banded_new.unionByName(
        banded_old.join(hot, keys, "left_semi"))
    cand = _bucket_pairs(banded, keys, cap=bucket_cap, stats=stats,
                         new_col="_new")
    # signature re-attach: new sigs win for recrawled ids (old row retired);
    # persisted — BOTH candidate re-joins consume it, and without the tier
    # the anti-join + old-table scan would run once per consumer
    all_sigs = _persist_tier(
        old_sigs.join(new_sigs.select("id"), "id", "left_anti")
        .unionByName(new_sigs))
    pairs = (cand
             .join(all_sigs.select(F.col("id").alias("id_a"),
                                   F.col("minhash").alias("mh_a")), "id_a")
             .join(all_sigs.select(F.col("id").alias("id_b"),
                                   F.col("minhash").alias("mh_b")), "id_b"))
    matches = F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y:
                                         (x == y).cast("int")),
                              lambda v: v == 1))
    return (pairs.withColumn("sig_sim", matches / F.lit(float(num_perm)))
            .filter(F.col("sig_sim") >= threshold)
            .select("id_a", "id_b", F.round("sig_sim", 6).alias("sig_sim")))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, bands: int | None = None,
                  bucket_cap: int | None = DEFAULT_BAND_BUCKET_CAP,
                  stats: dict | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation by equality on one of ``bands`` disjoint bit chunks
    covering all 64 bits.  Pigeonhole: a pair differing in at most
    ``max_hamming`` bits must agree on >= one chunk IFF ``bands >
    max_hamming`` — so that is enforced (the round-1 version fixed 4 chunks,
    which silently under-recalled pairs with hamming in [4, max_hamming]).

    ``bucket_cap`` / ``stats``: identical semantics to
    :func:`minhash_lsh_pairs` — chunk buckets above the cap are dropped via
    the count pre-filter before any id list materializes (skew guard for
    boilerplate mega-clusters; stated recall trade)."""
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} gives no recall guarantee for "
            f"max_hamming={max_hamming}: a pair can differ in every chunk; "
            f"need bands > max_hamming")
    if bands > 64:
        raise ValueError("at most 64 one-bit bands over a 64-bit signature")
    # persisted: feeds the chunk explode AND both payload branches (the
    # simhash UDF would otherwise re-run per plan consumer); released via
    # release_caches()
    sh = _persist_tier(df.select(F.col(id_col).alias("id"),
                                 sim.simhash_udf(F.col(text_col))
                                 .alias("simhash")))
    # chunk widths cover all 64 bits (wider chunks first when 64 % bands != 0)
    widths = [64 // bands + (1 if i < 64 % bands else 0) for i in range(bands)]
    shifts = [sum(widths[:i]) for i in range(bands)]
    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk_id"),
                 F.shiftrightunsigned(F.col("simhash"), shifts[i])
                 .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("chunk_val"))
        for i in range(bands)])
    banded = (sh.withColumn("c", F.explode(chunks))
              .select("id", "c.chunk_id", "c.chunk_val"))
    # candidates on ids only; 64-bit signatures re-join afterwards
    cand = _bucket_pairs(banded, ["chunk_id", "chunk_val"], cap=bucket_cap,
                         stats=stats)
    return (cand
            .join(sh.select(F.col("id").alias("id_a"),
                            F.col("simhash").alias("sh_a")), "id_a")
            .join(sh.select(F.col("id").alias("id_b"),
                            F.col("simhash").alias("sh_b")), "id_b")
            .withColumn("hamming", sim.hamming64_col(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def _shingle_inter(df: DataFrame, text_col: str, id_col: str, n: int,
                   max_df: int = 1000):
    """Shared core of the exact set-overlap operators: distinct word
    n-gram sets per doc, per-doc set sizes, and exact pairwise
    intersection counts.  The join key is the shingle itself — common
    shingles are the skew risk, so extremely frequent shingles
    (df > ``max_df``) are dropped (stop-shingles), stated.

    Returns ``(inter, sizes)`` where inter = (id_a, id_b, inter_size)
    over the STOP-FILTERED sets and sizes = (id, set_size) likewise."""
    # persisted: the distinct shingle table feeds the frequency agg, the
    # size agg and both join branches — four consumers that would each
    # re-scan and re-shingle the corpus otherwise; released via
    # release_caches()
    shingled = _persist_tier(
        df.select(F.col(id_col).alias("id"),
                  F.explode(sim.shingles_col(F.col(text_col), n)).alias("sh"))
        .distinct())
    freq = shingled.groupBy("sh").agg(F.count("*").alias("df_count"))
    shingled = (shingled.join(freq, "sh").filter(F.col("df_count") <= max_df)
                .select("id", "sh"))
    sizes = shingled.groupBy("id").agg(F.count("*").alias("set_size"))
    # one co-occurrence row per (pair, shingle) -> count = |A ∩ B|
    inter = (_bucket_pairs(shingled, ["sh"], dedupe=False)
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter_size")))
    return inter, sizes


def _attach_sizes(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    return (inter
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("set_size").alias("size_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("set_size").alias("size_b")), "id_b"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over word n-gram sets: distinct-shingle equi-join counts
    |A∩B|, set sizes via a pre-agg, |A∪B| = |A|+|B|-|A∩B| (stop-shingle
    df cap inside :func:`_shingle_inter`, stated)."""
    inter, sizes = _shingle_inter(df, text_col, id_col, n)
    return (_attach_sizes(inter, sizes)
            .withColumn("jaccard", F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.5) -> DataFrame:
    """Asymmetric set containment (Broder 1997's second resemblance
    measure): C(A→B) = |S(A)∩S(B)| / |S(A)| over distinct word n-gram
    sets.  Near-1 containment with low Jaccard is the
    quote/aggregator/boilerplate-wrapper signature — doc A's content
    embedded inside a larger doc B — which symmetric Jaccard dedup
    misses by construction (|B| in the union denominator dilutes it).

    Emits one row per unordered candidate pair with BOTH directions
    (cont_a = how much of A is inside B, cont_b = vice versa), filtered
    to max(cont_a, cont_b) >= ``threshold``.  Exact counting shares
    :func:`_shingle_inter` with :func:`ngram_jaccard_pairs` — same
    single-shuffle shape, same stop-shingle skew guard; ratios are
    bigint/bigint (exact below 2^53 in Spark and DuckDB alike)."""
    inter, sizes = _shingle_inter(df, text_col, id_col, n)
    return (_attach_sizes(inter, sizes)
            .withColumn("cont_a",
                        F.round(F.col("inter_size") / F.col("size_a"), 6))
            .withColumn("cont_b",
                        F.round(F.col("inter_size") / F.col("size_b"), 6))
            .filter(F.greatest("cont_a", "cont_b") >= threshold)
            .select("id_a", "id_b", "cont_a", "cont_b"))


DEFAULT_LSH_SEED = 7
DEFAULT_BUCKET_CAP = 4096


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            threshold: float = 0.95,
                            n_tables: int | None = None,
                            n_planes: int | None = None,
                            seed: int = DEFAULT_LSH_SEED,
                            bucket_cap: int = DEFAULT_BUCKET_CAP,
                            dim: int | None = None) -> DataFrame:
    """Pairs with cosine >= threshold via multi-table random-hyperplane LSH.

    Each of ``n_tables`` band tables hashes a vector to a bucket by the
    bit-packed signs of ``n_planes`` seeded Gaussian hyperplanes; candidate
    pairs share a bucket in >= 1 table, then filter by exact cosine.
    Defaults come from :func:`sim.rh_params` — the largest band reaching
    95% recall at the threshold (recall/selectivity math in its docstring).
    Buckets larger than ``bucket_cap`` are dropped entirely (skew guard for
    degenerate mega-clusters — run exact dedup first so identical vectors
    collapse before this operator; the drop is a stated recall trade).
    Shuffles are on (table_id, bucket) keys only — never all-pairs."""
    if n_planes is None or n_tables is None:
        auto_b, auto_t = sim.rh_params(threshold)
        n_planes = n_planes or auto_b
        n_tables = n_tables or auto_t
    if dim is None:
        head = df.select(vec_col).head(1)
        if not head:
            dim = 1
        else:
            dim = len(head[0][0])
    planes = sim.rh_planes(dim, n_tables, n_planes, seed)
    bucketer = sim.make_rh_bucket_udf(planes)
    # persisted: feeds the bucket explode AND the two vector re-joins (the
    # bucketing UDF would otherwise re-run per consumer); released via
    # release_caches()
    base = _persist_tier(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  bucketer(F.col(vec_col)).alias("bks")))
    e = base.select("id", F.posexplode("bks").alias("table_id", "bucket"))
    # candidates on (id_a, id_b) ONLY — 16 B/pair; round 2 carried both
    # full vectors through the distinct (~16 KB/pair at 1k dims); the
    # bucket cap is a count pre-filter inside _bucket_pairs, so an
    # oversized bucket never materializes its id array.  Vectors
    # re-attach via two hash joins against the persisted base.
    cand = _bucket_pairs(e, ["table_id", "bucket"], cap=bucket_cap)
    vecs = base.select("id", "v")
    pairs = (cand
             .join(vecs.select(F.col("id").alias("id_a"),
                               F.col("v").alias("v_a")), "id_a")
             .join(vecs.select(F.col("id").alias("id_b"),
                               F.col("v").alias("v_b")), "id_b"))
    return (pairs.withColumn("cosine",
                             F.round(sim.cosine_col(F.col("v_a"),
                                                    F.col("v_b"), dim), 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u (over the SYMMETRIZED neighborhood), attach every
    strictly-larger neighbor v to m(u) = min(N(u) ∪ {u}).  Emitted edges
    (v, m) have v > u >= m, so no self-loops."""
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    m = (sym.groupBy("src").agg(F.min("dst").alias("m"))
         .withColumn("m", F.least("m", F.col("src"))))
    return (sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge toward its larger endpoint, then for each node u
    attach u and all its (smaller) neighbors to m(u) = min of them."""
    oriented = edges.select(F.greatest("src", "dst").alias("src"),
                            F.least("src", "dst").alias("dst"))
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(m, "src")
    return (joined.filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m.select("src", F.col("m").alias("dst"))))


def _pointer_jump(edges: DataFrame) -> DataFrame:
    """Path-halving accelerator over the (strictly descending) edge set
    produced by :func:`_small_star`: every edge (a, b) is rewritten to
    (a, P(b)) where P(b) is b's smallest out-neighbor (b itself for
    sinks).  Undirected connectivity is preserved — b stays linked to
    P(b) through its own rewritten rows — and chains halve again per
    round, roughly doubling the contraction rate of the star pair."""
    p = edges.groupBy("src").agg(F.min("dst").alias("p"))
    return (edges.join(p.withColumnRenamed("src", "dst"), "dst", "left")
            .select("src", F.coalesce("p", "dst").alias("dst")))


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, xor-of-row-hashes) change detector for the contraction loop.

    bit_xor: order-insensitive, overflow-free under ANSI mode (a sum() of
    64-bit hashes overflows LongType); edges are distinct so
    xor-cancellation of repeated rows can't occur.  A module-level seam so
    tests can force a collision and exercise the exact confirm below."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")),
                   F.lit(0)).alias("h")).first()
    return (row["n"], row["h"])


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """(id, component) for every id appearing in ``pairs`` — component =
    min id reachable through the pair graph (the canonical representative
    a dedup pipeline keeps).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm, reimplemented here as DataFrame ops): each round runs both
    star operations (a groupBy-min + re-emit join each) and converges in
    O(log n) rounds on ANY graph shape — the round-3 min-label propagation
    needed O(diameter) rounds, which an adversarial chain corpus turns
    into thousands.  Convergence is detected from a (count, hash-xor)
    fingerprint aggregated over the checkpointed edge set — one cheap scan
    per round, not the extra labels-join + count() the old loop paid —
    and CONFIRMED exactly (exceptAll-isEmpty vs the previous round) when
    the fingerprint matches, so a hash collision cannot end the loop early.
    Lineage is truncated every round (localCheckpoint) so plans stay flat.
    At the fixed point the edge set is a star forest (v -> component min);
    labels read off the edges directly."""
    # checkpoint the (possibly expensive) upstream pair plan ONCE; nodes
    # and edges both derive from it — two independent eager checkpoints
    # would execute the whole pair-generation pipeline twice
    raw = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
           .localCheckpoint(eager=True))
    # node set captured BEFORE dropping self-pairs: an id appearing only
    # as (x, x) has no surviving edge, but the contract is a label for
    # EVERY id in ``pairs`` — it re-enters via the final left join
    nodes = (raw.select(F.col("src").alias("id"))
             .union(raw.select(F.col("dst").alias("id")))
             .distinct())
    edges = (raw.filter(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint(eager=True))
    fingerprint = None
    rounds = 0
    for _ in range(max_iters):
        prev = edges
        edges = (_pointer_jump(_small_star(_large_star(edges))).distinct()
                 .localCheckpoint(eager=True))
        rounds += 1
        new_fp = _edge_fingerprint(edges)
        if new_fp == fingerprint:
            # collision insurance: a ~2^-64 hash collision on a CHANGED
            # edge set would otherwise end the loop early and silently
            # emit wrong components.  Confirm the fixed point exactly —
            # both sets are distinct and the matched fingerprint includes
            # the count, so one-directional exceptAll-isEmpty proves set
            # equality.  One cheap scan of the contracted star forest, on
            # the final round only (or on a genuine collision: not empty
            # -> keep contracting).
            if edges.exceptAll(prev).isEmpty():
                break
        fingerprint = new_fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    labels = (edges.select(F.col("src").alias("id"),
                           F.col("dst").alias("component"))
              .union(edges.select(F.col("dst").alias("id"),
                                  F.col("dst").alias("component")))
              .distinct())
    # self-pair-only ids have no edge at all: their component is themselves
    return (nodes.join(labels, "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("component")))


def dedup_keep(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
               id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Drop near-duplicates: keep every row whose id is NOT in the pair
    graph, plus the min-id representative of each component."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")) \
                 .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3, w: int = 8,
                         min_shared: int = 2,
                         bucket_cap: int | None = DEFAULT_BAND_BUCKET_CAP,
                         stats: dict | None = None) -> DataFrame:
    """(id_a, id_b, shared_fps) for documents sharing >= ``min_shared``
    winnowing fingerprints — substring-overlap candidates that MinHash
    misses by design: a long passage copied between two otherwise-
    unrelated pages keeps whole-doc Jaccard low but is GUARANTEED to
    collide on a fingerprint once the shared run reaches w + k - 1
    tokens (Schleimer et al., SIGMOD'03; the distributed analogue of
    Lee et al. 2022's suffix-array dedup).

    Same scale shape as the MinHash path: the fingerprint tier is a
    vectorized Arrow UDF (:func:`geolake_spark.functions.sim.
    make_winnow_udf`), candidates come from ONE bucket-pairs shuffle in
    multiplicity mode (shared-fp count per pair), and ``bucket_cap``
    (count pre-filter, never materialized) guards the hot-fingerprint
    buckets a boilerplate passage produces — with the stop-shingle
    rationale of :func:`ngram_jaccard_pairs`: a fingerprint shared by
    thousands of docs is template noise, not plagiarized content."""
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(sim.make_winnow_udf(k, w)(F.col(text_col))).alias("fp"))
    inter = (_bucket_pairs(fps, ["fp"], cap=bucket_cap, dedupe=False,
                           stats=stats)
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("shared_fps")))
    return inter.filter(F.col("shared_fps") >= min_shared)


# ---------------------------------------------------------------------------
# Fuzzy string matching — q-gram blocking + exact Levenshtein verify
# (the classic entity-resolution filter-and-refine: Gravano et al. 2001
# count filter).  Titles/hosts/product names that differ by typos are
# invisible to exact dedup and diluted for shingle Jaccard (q-grams ARE
# the shingles here, at character grain).  Scale shape: the q-gram
# equi-join is the candidate generator (the LSH-band analogue) — hot
# grams are dropped by a df cap BEFORE the join (stop-shingle guard),
# the length filter and the count filter kill most candidates before
# the O(len^2) levenshtein verify runs.  Both engines implement
# levenshtein with unit costs over UTF-16/UTF-8 units — parity verified
# on BMP text; the contract is BMP strings (supplementary-plane code
# points count differently, stated).
# ---------------------------------------------------------------------------


def _qgrams(col, q: int):
    """Distinct character q-grams of a string (the whole string when
    shorter than q)."""
    n = F.length(col)
    grams = F.transform(F.sequence(F.lit(1), n - q + 1),
                        lambda i: col.substr(i, F.lit(q)))
    return F.when(n < q, F.array(col)).otherwise(F.array_distinct(grams))


def fuzzy_pairs(df: DataFrame, col: str = "name", id_col: str = "id",
                max_dist: int = 2, q: int = 2,
                max_gram_df: int = 10000) -> DataFrame:
    """Unordered id pairs whose strings are within Levenshtein distance
    ``max_dist``: ``(id_a, id_b, dist)``.

    Filter-and-refine: (1) length filter |len_a - len_b| <= max_dist;
    (2) DISTINCT-gram count filter — one edit destroys at most ``q``
    gram TYPES, so true pairs share >= max(|Da|, |Db|) - max_dist*q
    surviving distinct grams (sound; the classic length-based bound is
    NOT sound over distinct sets on repetitive strings); (3) exact
    levenshtein verify.  Grams appearing in more than ``max_gram_df``
    strings are dropped from blocking (the count filter uses
    post-filter gram counts, so it stays sound relative to them).
    Stated limits: a pair sharing NO q-gram at all is never emitted
    (only possible when max_dist*q edits blanket the shorter string),
    and the distance is over UTF-16/UTF-8 units — BMP-text contract."""
    base = df.select(F.col(id_col).alias("id"), F.col(col).alias("s"))
    g = base.select("id", "s", F.length("s").alias("ln"),
                    F.explode(_qgrams(F.col("s"), q)).alias("gram"))
    freq = g.groupBy("gram").agg(F.count("*").alias("gdf"))
    g = (g.join(freq, "gram").filter(F.col("gdf") <= max_gram_df)
         .withColumn("dn", F.count("*").over(Window.partitionBy("id")))
         .select("gram", "id", "s", "ln", "dn"))
    a = g.select(F.col("gram"), F.col("id").alias("id_a"),
                 F.col("s").alias("s_a"), F.col("ln").alias("ln_a"),
                 F.col("dn").alias("dn_a"))
    b = g.select(F.col("gram"), F.col("id").alias("id_b"),
                 F.col("s").alias("s_b"), F.col("ln").alias("ln_b"),
                 F.col("dn").alias("dn_b"))
    cand = (a.join(b, "gram")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist))
            .groupBy("id_a", "id_b", "s_a", "s_b", "dn_a", "dn_b")
            .agg(F.count("*").alias("shared")))
    need = F.greatest(
        F.lit(1),
        F.greatest(F.col("dn_a"), F.col("dn_b")) - max_dist * q)
    return (cand.filter(F.col("shared") >= need)
            .withColumn("dist", F.levenshtein("s_a", "s_b"))
            .filter(F.col("dist") <= max_dist)
            .select("id_a", "id_b", "dist"))


def fuzzy_pairs_sql(docs_sql: str, col: str = "name", id_expr: str = "id",
                    max_dist: int = 2, q: int = 2,
                    max_gram_df: int = 10000) -> str:
    """DuckDB mirror of :func:`fuzzy_pairs`."""
    grams = (f"CASE WHEN length(s) < {q} THEN [s] ELSE list_distinct("
             f"list_transform(range(1, length(s) - {q} + 2), "
             f"i -> substring(s, i::INT, {q}))) END")
    return f"""
WITH _fz_b AS (
  SELECT {id_expr} AS id, {col} AS s FROM ({docs_sql})
), _fz_g AS (
  SELECT id, s, length(s) AS ln, u.gram AS gram
  FROM _fz_b, unnest({grams}) AS u(gram)
), _fz_k AS (
  SELECT gram, id, s, ln FROM _fz_g
  QUALIFY count(*) OVER (PARTITION BY gram) <= {max_gram_df}
), _fz_f AS (
  SELECT gram, id, s, ln,
         count(*) OVER (PARTITION BY id) AS dn
  FROM _fz_k
), _fz_c AS (
  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
         a.dn AS dn_a, b.dn AS dn_b, count(*) AS shared
  FROM _fz_f a JOIN _fz_f b USING (gram)
  WHERE a.id < b.id AND abs(a.ln - b.ln) <= {max_dist}
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT id_a, id_b, levenshtein(s_a, s_b) AS dist
FROM _fz_c
WHERE shared >= greatest(1, greatest(dn_a, dn_b) - {max_dist} * {q})
  AND levenshtein(s_a, s_b) <= {max_dist}"""


def duplicate_chunks(docs: DataFrame, avg_tokens: int = 8, min_docs: int = 2,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunk dedup (the FastCDC/rsync idea at token
    granularity, as used for boilerplate mining in web-corpus
    curation): a token STARTS a new chunk when its 60-bit md5 bucket
    hits ``hash(tok) % avg_tokens == 0`` — boundaries depend only on
    LOCAL content, so a shared passage chunks identically no matter
    where it sits in each document (the property fixed-width shingles
    lack).  Returns ``(chunk_fp, n_docs, n_occ, chunk_tokens)`` for
    chunks appearing in >= ``min_docs`` distinct docs.

    Plan: posexplode tokens -> boundary flag (pure codegen md5 bucket)
    -> per-doc running-sum window (ONE doc-keyed shuffle) -> chunk
    rollup on (doc, chunk_idx), which EXTENDS the window's partition
    key (no second exchange, the trip_stats pattern) -> one final
    groupBy(chunk md5).  Chunk text reassembles via sorted collect —
    bounded by the chunk length, ~avg_tokens."""
    from pyspark.sql import Window
    from ..functions.text import bow_tokens_col, token_bucket_col
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(bow_tokens_col(F.col(text_col))).alias("pos", "tok"))
    bnd = (token_bucket_col(F.col("tok"), avg_tokens) == 0).cast("bigint")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    chunked = toks.select("doc_id", "pos", "tok",
                          F.sum(bnd).over(w).alias("chunk_idx"))
    chunks = (chunked.groupBy("doc_id", "chunk_idx")
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct(F.col("pos"), F.col("tok")))),
                      lambda s: s["tok"]), " ").alias("chunk"),
                  F.count(F.lit(1)).alias("chunk_tokens")))
    return (chunks.groupBy(F.md5("chunk").alias("chunk_fp"),
                           F.col("chunk_tokens"))
            .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_docs") >= min_docs)
            .select("chunk_fp", "n_docs", "n_occ", "chunk_tokens"))


def duplicate_chunks_sql(docs_sql: str, avg_tokens: int = 8,
                         min_docs: int = 2, text_expr: str = "text",
                         id_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`duplicate_chunks`."""
    from ..functions.text import bow_tokens_sql, token_bucket_sql
    return f"""
WITH _dc_d AS (
  SELECT {id_expr} AS doc_id, {bow_tokens_sql(text_expr)} AS tk
  FROM ({docs_sql})
), _dc_t AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok
  FROM _dc_d, LATERAL (SELECT unnest(list_transform(range(1, len(tk) + 1),
         i -> {{'pos': i - 1, 'tok': tk[i]}}), recursive := true)) u
), _dc_c AS (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN {token_bucket_sql('tok', avg_tokens)} = 0
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS chunk_idx
  FROM _dc_t
), _dc_k AS (
  SELECT doc_id, chunk_idx,
         array_to_string(list_transform(
             list_sort(list({{'pos': pos, 'tok': tok}})),
             s -> s.tok), ' ') AS chunk,
         count(*) AS chunk_tokens
  FROM _dc_c GROUP BY 1, 2
)
SELECT md5(chunk) AS chunk_fp, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ, chunk_tokens
FROM _dc_k GROUP BY chunk_fp, chunk_tokens
HAVING count(DISTINCT doc_id) >= {min_docs}"""


def rendezvous_shards(docs: DataFrame, n_shards: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Rendezvous (highest-random-weight) shard routing (Thaler &
    Ravishankar 1996): each key goes to the shard with the maximal
    ``hash(key, shard)`` — when the shard count grows from n to n+1,
    ONLY the keys whose new shard wins move (~1/(n+1) of them), unlike
    modulo sharding which reshuffles nearly everything.  Returns
    ``(id, shard)``; pure map-side codegen (an aggregate over the
    shard-id array literal with the md5-bucket hash both engines
    share)."""
    shards = F.array([F.lit(s) for s in range(int(n_shards))])
    key = F.col(id_col).cast("string")

    def weight(s):
        return F.conv(F.substring(
            F.md5(F.concat(key, F.lit("\x1f"), s.cast("string"))),
            1, 15), 16, 10).cast("bigint")

    best = F.aggregate(
        shards,
        F.lit(None).cast("struct<w:bigint,s:int>"),
        lambda acc, s: F.when(
            acc.isNull() | (F.struct(weight(s).alias("w"), s.alias("s"))
                            > acc),
            F.struct(weight(s).alias("w"), s.alias("s"))).otherwise(acc))
    return docs.select(F.col(id_col).alias("id"),
                       best["s"].alias("shard"))


def rendezvous_shards_sql(docs_sql: str, n_shards: int,
                          id_expr: str = "doc_id") -> str:
    """DuckDB mirror of :func:`rendezvous_shards`."""
    n = int(n_shards)
    return f"""
SELECT {id_expr} AS id,
       (list_reduce(list_transform(range(0, {n}), s -> struct_pack(
            w := ('0x' || substr(md5(cast({id_expr} AS VARCHAR)
                                 || chr(31) || cast(s AS VARCHAR)),
                                 1, 15))::BIGINT,
            s := s)),
          (a, b) -> CASE WHEN b > a THEN b ELSE a END)).s AS shard
FROM ({docs_sql})"""
