"""Similarity & dedup kernels: MinHash, SimHash, shingles, embedding cosine.

All heavy math is NumPy over Arrow batches (pandas UDFs); band-bucketing and
pair-joins happen as DataFrame joins so they distribute (SURVEY.md training-
data-pipeline mandate: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# Word shingles (n-grams) — JVM expressions so the DuckDB oracle can mirror
# ---------------------------------------------------------------------------


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_col(text: Column, n: int = 3) -> Column:
    """array<string> of word n-grams via sequence+transform (JVM-side)."""
    w = words_col(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(w, i + F.lit(j)) for j in range(n)]))


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------
#
# Production tier: Arrow-batched vectorized NumPy.  Two JVM formulations
# were built and benchmarked against it on 500k full-width pages and LOST
# (explode -> md5 -> 64 min-aggregates: 79s, the hash aggregation runs on
# string doc keys with 64 buffers; per-row higher-order functions with one
# array_min(transform(...)) per permutation: >600s, 64 transient array
# materializations per row).  The NumPy kernel below does the identical
# math over flat batch arrays with zero per-shingle Python and no string
# assembly (token hashes combine arithmetically into shingle hashes).

_MERSENNE = np.uint64((1 << 61) - 1)
M31 = 2147483647  # Mersenne prime 2^31 - 1: universal-hash modulus
# Signature of a shingle-less doc.  Real signature values are
# ``x % M31`` in [0, M31-1], so M31 itself (= int32 max) is the smallest
# sentinel disjoint from every real value — and it fits the int32
# signature tier (r6: signatures ship as array<int>, halving the cached
# tier, the Arrow transfer and both re-join shuffles; bucket membership
# and similarity are equality-based, so pair outputs are unchanged —
# the DuckDB oracle keeps its own self-consistent BIGINT sentinel).
_SIG_SENTINEL = M31
# Shingle-combination constants (odd, < 2^30): a word-3-gram's hash is
# (t0*C1 + t1*C2 + t2*C3) % M31 over the TOKEN hashes — no shingle string
# is ever materialized (string assembly dominated the hash cost).
_SHINGLE_C = (1000000007, 998244353, 805306457)


def _perm_params31(num_perm: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """30-bit universal-hash params: a*h + b stays < 2^61 — no overflow on
    either engine, so the SQL mirror needs no wrap emulation."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 30, size=num_perm).astype(np.uint64)
    b = rng.randint(0, 1 << 30, size=num_perm).astype(np.uint64)
    return a, b


_FNV_BASIS = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)


# Token-window bound for the columnar FNV / SimHash passes.  Large Arrow
# batches (65k docs ~ 4.6M tokens at sf4) made every vector op allocate
# ~37 MB temporaries x several per step x 32 workers — the same glibc
# mmap/page-fault churn that once made 32 workers 7x slower than 8
# (measured again in round 3: per-doc signature throughput dropped 3.2x
# going from 15k-doc to 65k-doc batches; chunking restores it).
_FNV_CHUNK_TOKENS = 1 << 18


def _fnv_flat(flat: np.ndarray, offs: np.ndarray,
              lens: np.ndarray) -> np.ndarray:
    """FNV-1a per (offset, length) slice of a flat uint8 buffer.

    The loop runs column-at-a-time (j-th byte of every string in a single
    vector op), so Python-level work is O(max_len) instead of
    O(total_bytes); tokens are processed in bounded windows so temporaries
    stay ~2 MB regardless of Arrow batch size (see _FNV_CHUNK_TOKENS).
    Bit-identical to the scalar per-byte FNV-1a (uint64 multiply wraps
    mod 2^64)."""
    n = len(offs)
    out = np.full(n, _FNV_BASIS, dtype=np.uint64)
    for s in range(0, n, _FNV_CHUNK_TOKENS):
        e = min(s + _FNV_CHUNK_TOKENS, n)
        o = offs[s:e]
        ln = lens[s:e]
        seg = out[s:e]
        for j in range(int(ln.max(initial=0))):
            active = np.nonzero(ln > j)[0]
            b = flat[o[active] + j].astype(np.uint64)
            seg[active] = (seg[active] ^ b) * _FNV_PRIME
    return out


def _hash_shingles(shingles: list[str]) -> np.ndarray:
    """Stable 64-bit FNV-1a per shingle, bulk-vectorized: all strings are
    UTF-8-encoded into ONE flat byte buffer, then :func:`_fnv_flat`."""
    n = len(shingles)
    if n == 0:
        return np.full(0, _FNV_BASIS, dtype=np.uint64)
    enc = [s.encode("utf-8") for s in shingles]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    if int(lens.max(initial=0)) == 0:
        return np.full(n, _FNV_BASIS, dtype=np.uint64)
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    offs = np.cumsum(lens) - lens
    return _fnv_flat(flat, offs, lens)


def _perm_params(num_perm: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=num_perm).astype(np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=num_perm).astype(np.uint64)
    return a, b


def minhash_signature(shingles: list[str], num_perm: int = 64,
                      seed: int = 1) -> np.ndarray:
    """(num_perm,) uint64 MinHash signature of a shingle set."""
    if not shingles:
        return np.full(num_perm, np.iinfo(np.int64).max, dtype=np.uint64)
    a, b = _perm_params(num_perm, seed)
    hv = np.unique(_hash_shingles(shingles)) % _MERSENNE
    # (num_perm, n) universal hashing, min over shingles
    vals = (np.outer(a, hv) + b[:, None]) % _MERSENNE
    return vals.min(axis=1)


# Bound on the (num_perm x shingles) permutation matrix per vector op.
# SMALL on purpose: 16k shingles x 64 perms x 8B = 8 MB, reused in-place —
# with 32 concurrent python workers, big per-chunk temporaries (the first
# version used 128 MB x 3 temporaries per worker) trigger glibc mmap/munmap
# churn and kernel page-fault storms that made 32 workers 7x SLOWER than 8.
_MINHASH_CHUNK_SHINGLES = 16_384


def _tokenize_batch(text: pd.Series) -> tuple[list[str], np.ndarray]:
    """(all tokens concatenated batch-wide, per-doc token counts)."""
    all_toks: list[str] = []
    counts = np.empty(len(text), dtype=np.int64)
    for i, s in enumerate(text):
        toks = s.lower().split()
        counts[i] = len(toks)
        all_toks.extend(toks)
    return all_toks, counts


# Multi-byte UTF-8 encodings of Python's Unicode split-whitespace set
# (exactly the chars ``str.split()`` breaks on beyond ASCII, enumerated
# from ``c.isspace()`` over the full codepoint range — CPython's split
# uses the same Py_UNICODE_ISSPACE predicate): U+0085 NEL, U+00A0 NBSP,
# U+1680 OGHAM, U+2000–U+200A spaces, U+2028/29 line/para sep,
# U+202F NNBSP, U+205F MMSP, U+3000 IDEOGRAPHIC SPACE.  The lead bytes
# (C2/E1/E2/E3) are > 0xBF so they can never be UTF-8 continuation
# bytes — matching on them byte-wise is unambiguous mid-stream.
_UWS3 = (
    (0xE1, 0x9A, lambda t: t == 0x80),                       # U+1680
    (0xE2, 0x80, lambda t: ((t >= 0x80) & (t <= 0x8A))       # U+2000-200A
                 | (t == 0xA8) | (t == 0xA9) | (t == 0xAF)), # U+2028/29/2F
    (0xE2, 0x81, lambda t: t == 0x9F),                       # U+205F
    (0xE3, 0x80, lambda t: t == 0x80),                       # U+3000
)


def _mark_unicode_ws(buf: np.ndarray, ws: np.ndarray) -> None:
    """Set ``ws[i]`` True for EVERY byte of each multi-byte Unicode
    whitespace sequence in ``buf`` (in-place)."""
    if len(buf) >= 2:
        idx = np.flatnonzero(buf[:-1] == 0xC2)
        if len(idx):
            nxt = buf[idx + 1]
            hit = idx[(nxt == 0x85) | (nxt == 0xA0)]  # NEL / NBSP
            ws[hit] = True
            ws[hit + 1] = True
    if len(buf) >= 3:
        lead, mid = buf[:-2], buf[1:-1]
        for b0, b1, accept in _UWS3:
            idx = np.flatnonzero((lead == b0) & (mid == b1))
            if len(idx):
                hit = idx[accept(buf[idx + 2])]
                ws[hit] = True
                ws[hit + 1] = True
                ws[hit + 2] = True


def _tokenize_flat(text: pd.Series):
    """Vectorized UTF-8 tokenizer: (flat uint8 buffer, token byte offsets,
    token byte lengths, per-doc token counts) — NO per-token Python objects
    (the per-token str+encode churn was the real hot-path cost: ~70
    tokens/doc means 35M transient strings per 500k-doc pass; until round 4
    any non-ASCII doc in a batch forced that path, which a real web corpus
    hits on most batches).

    Docs are lowered and UTF-8-encoded per-doc (C level), joined with
    ``\\n`` separators into one buffer; token boundaries come from byte
    masks over Python ``str.split()``'s whitespace set — the ASCII range
    {\\t..\\r, \\x1c..\\x1f, space} plus the fixed multi-byte sequences in
    :data:`_UWS3` (every byte of a whitespace sequence is masked, so token
    slices are exactly the UTF-8 bytes of ``s.lower().split()`` tokens and
    FNV hashes are bit-identical to the per-token path).  Returns ``None``
    only for non-``str`` values or unencodable lone surrogates — those
    batches take the exact per-token path (:func:`_tokenize_batch`)."""
    docs = list(text)
    if not all(type(s) is str for s in docs):
        return None
    n = len(docs)
    if n == 0:
        return (np.zeros(0, np.uint8), np.zeros(0, np.int64),
                np.zeros(0, np.int64), np.zeros(0, np.int64))
    try:
        encs = [s.lower().encode("utf-8") for s in docs]
    except UnicodeEncodeError:  # lone surrogates — let the slow path raise
        return None
    blob = b"\n".join(encs)
    buf = np.frombuffer(blob, dtype=np.uint8)
    dlens = np.fromiter((len(e) for e in encs), dtype=np.int64, count=n)
    ws = ((buf >= 9) & (buf <= 13)) | ((buf >= 28) & (buf <= 32))
    if len(buf) and int(buf.max()) >= 0x80:
        _mark_unicode_ws(buf, ws)
    nonws = ~ws
    starts_mask = nonws.copy()
    starts_mask[1:] &= ws[:-1]
    offs = np.flatnonzero(starts_mask)
    ends_mask = nonws
    ends_mask[:-1] &= ws[1:]
    ends = np.flatnonzero(ends_mask) + 1
    lens = ends - offs
    doc_starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        doc_starts[1:] = np.cumsum(dlens + 1)[:-1]
    doc_of = np.searchsorted(doc_starts, offs, side="right") - 1
    counts = np.bincount(doc_of, minlength=n).astype(np.int64)
    return buf, offs, lens, counts


def _token_hashes_batch(text: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(64-bit FNV hash per token batch-flat, per-doc token counts) —
    vectorized UTF-8 byte path for all str batches, exact per-token
    fallback only for non-str / unencodable values.  Both paths are
    bit-identical (same token bytes, same FNV), so golden signatures are
    unchanged."""
    fast = _tokenize_flat(text)
    if fast is not None:
        flat, offs, lens, counts = fast
        return _fnv_flat(flat, offs, lens), counts
    toks, counts = _tokenize_batch(text)
    return _hash_shingles(toks), counts


def _minhash_from_token_hashes(hv: np.ndarray, tok_counts: np.ndarray,
                               n_docs: int, num_perm: int, n: int,
                               seed: int) -> np.ndarray:
    """(n_docs, num_perm) int64 signatures from batch-flat token FNV hashes.

    Token-hash combination: a shingle's hash is an arithmetic combination
    of its n token hashes computed over the flat batch array (cross-doc
    positions masked out) — no shingle string is ever built.  Signature
    mins via minimum.reduceat over contiguous doc segments (duplicate
    shingles can't change a min, so no per-doc unique())."""
    a, b = _perm_params31(num_perm, seed)
    th = hv % np.uint64(M31)
    total = len(th)
    m = total - n + 1
    if m > 0:
        sh_flat = np.zeros(m, dtype=np.uint64)
        for j in range(n):
            sh_flat += th[j:j + m] * np.uint64(_SHINGLE_C[j])
        sh_flat %= np.uint64(M31)
        doc_of = np.repeat(np.arange(n_docs), tok_counts)
        sh_all = sh_flat[doc_of[:m] == doc_of[n - 1:]]
    else:
        sh_all = np.zeros(0, dtype=np.uint64)
    counts = np.maximum(tok_counts - (n - 1), 0)
    out = np.full((n_docs, num_perm), _SIG_SENTINEL, dtype=np.int32)
    ends = np.cumsum(counts)
    starts = ends - counts
    nonempty = np.nonzero(counts > 0)[0]
    buf = np.empty((num_perm, _MINHASH_CHUNK_SHINGLES), dtype=np.uint64)
    a_col = a[:, None]
    b_col = b[:, None]
    m31 = np.uint64(M31)
    i = 0
    while i < len(nonempty):
        j, tot = i, 0
        while j < len(nonempty) and (
                tot == 0 or tot + counts[nonempty[j]] <= _MINHASH_CHUNK_SHINGLES):
            tot += counts[nonempty[j]]
            j += 1
        docs = nonempty[i:j]
        # contiguous slice, not a per-doc index concatenation: docs are
        # consecutive nonempty indices and every skipped doc between them
        # has count 0 (zero elements), so the union of their [start, end)
        # ranges IS [starts[docs[0]], ends[docs[-1]]) — a view, no copy
        seg_hv = sh_all[starts[docs[0]]:ends[docs[-1]]]
        # in-place into a reused buffer: no fresh 8 MB temporaries per
        # chunk (see _MINHASH_CHUNK_SHINGLES note); a single giant doc
        # can exceed the chunk budget — spill to a one-off buffer
        if len(seg_hv) <= _MINHASH_CHUNK_SHINGLES:
            vals = buf[:, :len(seg_hv)]
        else:
            vals = np.empty((num_perm, len(seg_hv)), dtype=np.uint64)
        np.multiply(a_col, seg_hv[None, :], out=vals)
        np.add(vals, b_col, out=vals)
        np.mod(vals, m31, out=vals)
        seg_starts = np.cumsum(counts[docs]) - counts[docs]
        mins = np.minimum.reduceat(vals, seg_starts, axis=1)
        out[docs] = mins.T.astype(np.int32)
        i = j
    return out


def _simhash_from_token_hashes(hv: np.ndarray, counts: np.ndarray,
                               n_docs: int) -> np.ndarray:
    """(n_docs,) int64 SimHash from batch-flat token FNV hashes: per-doc
    per-bit counts via add.reduceat over contiguous doc segments (64
    one-dimensional passes — never materializes an (n_tokens, 64) matrix).
    Docs are processed in token-bounded windows so the 64 per-bit
    temporaries stay ~2 MB at any Arrow batch size (_FNV_CHUNK_TOKENS)."""
    out = np.zeros(n_docs, dtype=np.int64)
    if n_docs == 0:
        return out
    ends_all = np.cumsum(counts)
    starts_all = ends_all - counts
    weights = np.arange(64, dtype=np.uint64)[None, :]
    i = 0
    while i < n_docs:
        base = int(starts_all[i])
        j = i + 1
        while j < n_docs and ends_all[j] - base <= _FNV_CHUNK_TOKENS:
            j += 1
        sub_counts = counts[i:j]
        ne = np.nonzero(sub_counts > 0)[0]
        if len(ne):
            hseg = hv[base:int(ends_all[j - 1])]
            sub_starts = (np.cumsum(sub_counts) - sub_counts)[ne]
            bit_sums = np.empty((len(ne), 64), dtype=np.int64)
            for t in range(64):
                v = ((hseg >> np.uint64(t)) & np.uint64(1)).astype(np.int64)
                bit_sums[:, t] = np.add.reduceat(v, sub_starts)
            positive = (2 * bit_sums) > sub_counts[ne][:, None]
            sig = (positive.astype(np.uint64) << weights).sum(axis=1,
                                                              dtype=np.uint64)
            out[i:j][ne] = sig.view(np.int64)
        i = j
    return out


def _sig_series(out: np.ndarray) -> pd.Series:
    """Arrow-backed Series from an (n_rows, width) int matrix (int32 or
    int64): one ListArray over the flat values instead of n per-row
    ndarray objects — Spark's Arrow serializer consumes the extension
    array zero-copy (r6: the list-of-arrays form spent ~40% of the
    output boundary building and re-converting the row objects; values
    are bit-identical).  Shared by the minhash/ivfpq/h3/rh-bucket UDFs."""
    import pyarrow as pa
    n, width = out.shape
    offs = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    arr = pa.ListArray.from_arrays(offs, pa.array(out.ravel()))
    return pd.Series(pd.arrays.ArrowExtensionArray(arr))


def make_minhash_udf(num_perm: int = 64, n: int = 3, seed: int = 1):
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def minhash_udf(text: pd.Series) -> pd.Series:
        hv, tok_counts = _token_hashes_batch(text)
        out = _minhash_from_token_hashes(hv, tok_counts, len(text),
                                         num_perm, n, seed)
        return _sig_series(out)
    return minhash_udf


def lsh_bands(df, sig_col: str = "minhash", num_perm: int = 64, bands: int = 16):
    """Explode a signature into (band_id, band_hash) rows for bucket joins.
    rows_per_band = num_perm // bands; candidate pairs share any bucket.
    The band hash is xxhash64 over the raw band elements (no cast-to-string
    / concat per band — the hash is only a bucket key, and the downstream
    exact-similarity filter absorbs any collision, so the cheapest stable
    hash wins; the DuckDB oracle buckets on the element values themselves)."""
    r = num_perm // bands
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band_id"),
                 F.xxhash64(*[F.element_at(F.col(sig_col), b * r + i + 1)
                              for i in range(r)]).alias("band_hash"))
        for b in range(bands)])
    return (df.withColumn("band", F.explode(band_structs))
              .select("*", "band.band_id", "band.band_hash").drop("band"))


# ---------------------------------------------------------------------------
# SimHash (64-bit) — bitwise majority over token hashes
# ---------------------------------------------------------------------------


@pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    hv, counts = _token_hashes_batch(text)
    return pd.Series(_simhash_from_token_hashes(hv, counts, len(text)))


def hamming64_col(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def stack_vectors(vec: pd.Series, dtype=np.float64) -> np.ndarray:
    """(n, dim) matrix from a Series of fixed-length vectors via ONE
    C-level concatenate — no per-row Python (measured 4.5x vs the per-row
    ``np.stack([np.asarray(v) for v in vec])`` it replaces in every
    vector-UDF hot path)."""
    n = len(vec)
    if n == 0:
        return np.zeros((0, 0), dtype=dtype)
    arr = vec.to_numpy()
    if isinstance(arr[0], np.ndarray):
        return np.concatenate(arr, dtype=dtype).reshape(n, -1)
    return np.asarray(arr.tolist(), dtype=dtype)


# ---------------------------------------------------------------------------
# Random-hyperplane (SimHash-for-vectors) LSH for embeddings
# ---------------------------------------------------------------------------


def rh_planes(dim: int, n_tables: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """(n_tables, n_planes, dim) seeded Gaussian hyperplanes.  Deterministic
    per seed, so the DuckDB oracle can inline the identical constants."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim)


def rh_params(threshold: float, target_recall: float = 0.95,
              max_tables: int = 32, max_planes: int = 16) -> tuple[int, int]:
    """(n_planes per band-table, n_tables) for a cosine threshold.

    P(same side of one random hyperplane) = 1 - theta/pi; a pair at the
    threshold lands in the same bucket of one table with p^planes, and in
    >= 1 of T tables with 1 - (1 - p^planes)^T.  We pick the LARGEST band
    (best selectivity) still reaching target_recall within max_tables.
    NOTE the selectivity/threshold trade-off is fundamental: at low
    thresholds (0.35 ~ 70 deg, barely above random-pair angles) any
    recall-preserving banding passes most pairs through — LSH prunes well
    only for genuinely-near duplicates (>= 0.8)."""
    p = 1.0 - np.arccos(min(max(threshold, -1.0), 1.0)) / np.pi
    for b in range(max_planes, 0, -1):
        pt = p ** b
        if pt >= 1.0:
            return b, 1
        t = int(np.ceil(np.log(1.0 - target_recall) / np.log(1.0 - pt)))
        if t <= max_tables:
            return b, t
    return 1, max_tables


def make_rh_bucket_udf(planes: np.ndarray):
    """Arrow-batched UDF: embedding -> array of n_tables int bucket keys
    (bit-packed hyperplane signs).  One matmul per batch."""
    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim).T.copy()  # (dim, T*b)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(T.ArrayType(T.LongType()))
    def rh_buckets(v: pd.Series) -> pd.Series:
        mat = stack_vectors(v)
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ flat >= 0.0).reshape(len(mat), n_tables, n_planes)
        keys = (bits * weights).sum(axis=2).astype(np.int64)
        return _sig_series(keys)
    return rh_buckets


def rh_bucket_sql(vec_expr: str, planes: np.ndarray) -> list[str]:
    """Per-table bucket-key SQL (DuckDB), hyperplanes inlined as literals —
    mirrors :func:`make_rh_bucket_udf` for the value-level oracle."""
    out = []
    for t in range(planes.shape[0]):
        terms = []
        for j in range(planes.shape[1]):
            lst = "[" + ", ".join(repr(float(x)) for x in planes[t, j]) + "]"
            terms.append(f"(case when list_dot_product({vec_expr}, {lst}) "
                         f">= 0 then {1 << j} else 0 end)")
        out.append(" + ".join(terms))
    return out


# ---------------------------------------------------------------------------
# Embedding cosine — JVM higher-order functions (no Python in the hot path)
# ---------------------------------------------------------------------------


def dot_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product.  With ``dim`` (statically known
    vector width) the fold is UNROLLED into straight-line element_at
    additions — bit-identical to the ``F.aggregate`` form (same 0.0
    start, same left-to-right order) but inside whole-stage codegen;
    higher-order functions are CodegenFallback, and the interpreted
    per-row fold dominated the candidate-scoring stages (the
    ``_adc_dist_expr`` r6 measurement, same fix).

    With ``dim``, every vector must have exactly ``dim`` elements: a
    shorter one fails the query (ANSI ``element_at`` index error) and a
    longer one is truncated to its first ``dim`` elements."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + F.element_at(a, i + 1) * F.element_at(b, i + 1)
        return acc
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column, dim: int | None = None) -> Column:
    """Sequential-fold L2 norm; ``dim`` unrolls it and then every vector
    must have exactly ``dim`` elements (see :func:`dot_col`)."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            e = F.element_at(a, i + 1)
            acc = acc + e * e
        return F.sqrt(acc)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot_col(a, b, dim) / (norm_col(a, dim) * norm_col(b, dim))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (substring-overlap detection)
# ---------------------------------------------------------------------------
# MinHash answers "are these two documents near-identical overall"; it is
# blind to a long passage copied into an otherwise-unrelated page (the
# Jaccard of the whole docs stays low).  Winnowing (Schleimer, Wilkerson,
# Aiken, SIGMOD'03 — the MOSS kernel; Lee et al. 2022 use the suffix-array
# exact analogue for LLM corpora) guarantees detection of any shared run
# of >= w + k - 1 tokens: slide a w-window over the k-gram hash stream and
# keep each window's MINIMUM hash.  Two docs sharing a long-enough run
# necessarily select at least one identical fingerprint.


def make_winnow_udf(k: int = 3, w: int = 8):
    """``array<long>`` of DISTINCT winnowing-selected k-gram fingerprints
    per document.  Reuses the MinHash token pipeline end-to-end: UTF-8
    byte-mask tokenizer -> flat FNV-1a token hashes -> arithmetic k-gram
    combination mod 2^31-1 (``_SHINGLE_C``, no shingle strings) -> flat
    sliding-window min (stride tricks, cross-doc windows masked via the
    monotone doc_of array) -> per-doc unique via one packed np.unique.
    Docs with fewer than w + k - 1 tokens select nothing (the winnowing
    guarantee bound — shorter matches are below the detection threshold
    by construction)."""
    if k != len(_SHINGLE_C):
        raise ValueError(f"k must be {len(_SHINGLE_C)} (shingle constants)")

    @pandas_udf(T.ArrayType(T.LongType()))
    def winnow_udf(text: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view
        hv, counts = _token_hashes_batch(text)
        n_docs = len(counts)
        out: list[list[int]] = [[] for _ in range(n_docs)]
        th = hv % np.uint64(M31)
        total = len(th)
        m = total - k + 1          # k-gram stream length (flat, cross-doc)
        span = w + k - 1           # tokens covered by one window
        wm = total - span + 1      # window positions (flat)
        if m > 0 and wm > 0:
            g = np.zeros(m, dtype=np.uint64)
            for j in range(k):
                g += th[j:j + m] * np.uint64(_SHINGLE_C[j])
            g %= np.uint64(M31)
            doc_of = np.repeat(np.arange(n_docs), counts)
            mins = sliding_window_view(g, w).min(axis=1)
            # doc_of is non-decreasing: ends-in-same-doc == all-in-same-doc
            valid = doc_of[:wm] == doc_of[span - 1:span - 1 + wm]
            sel_doc = doc_of[:wm][valid].astype(np.uint64)
            sel_fp = mins[valid]
            if len(sel_fp):
                keys = np.unique((sel_doc << np.uint64(31)) | sel_fp)
                docs_k = (keys >> np.uint64(31)).astype(np.int64)
                fps_k = (keys & np.uint64((1 << 31) - 1)).astype(np.int64)
                bounds = np.searchsorted(docs_k, np.arange(n_docs + 1))
                for d in range(n_docs):
                    if bounds[d] < bounds[d + 1]:
                        out[d] = fps_k[bounds[d]:bounds[d + 1]].tolist()
        return pd.Series(out)

    return winnow_udf
