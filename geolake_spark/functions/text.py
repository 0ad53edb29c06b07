"""Text-pipeline column functions for web-page tables.

The flagship invariant (BASELINE.json ``input_hint``): ``extract_text`` is a
*pure* function html-bytes -> text-string, and the engine must reproduce the
``text`` column of the pages table **byte-identically per url** — verified by
pytest golden hashes and by the synthetic generator writing
``text = extract_text(html)`` at creation time.

Everything runs as Arrow-batched pandas transforms (mapInPandas / pandas_udf)
or as pure JVM expressions — no per-row Python UDFs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# HTML -> text extraction (deterministic, byte-stable)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_TAG = re.compile(rb"(?s)<[^>]*>")
_RE_WS = re.compile(rb"[ \t\r\n\f\v]+")
_ENTITIES = [
    (b"&nbsp;", b" "),
    (b"&amp;", b"&"),
    (b"&lt;", b"<"),
    (b"&gt;", b">"),
    (b"&quot;", b'"'),
    (b"&#39;", b"'"),
]


def extract_text_bytes(html: bytes) -> str:
    """Pure html-bytes -> text.  Order of passes is part of the contract:
    strip script/style blocks, strip comments, strip tags, decode the six
    common entities, collapse whitespace, strip ends, decode utf-8."""
    b = _RE_SCRIPT.sub(b" ", html)
    b = _RE_COMMENT.sub(b" ", b)
    b = _RE_TAG.sub(b" ", b)
    for ent, rep in _ENTITIES:
        b = b.replace(ent, rep)
    b = _RE_WS.sub(b" ", b).strip()
    return b.decode("utf-8", errors="replace")


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)  # per-batch pandas map over bytes


# ---------------------------------------------------------------------------
# Token counting (whitespace + a BPE-ish sub-word regex)
# ---------------------------------------------------------------------------


def token_count_col(text: Column) -> Column:
    """Whitespace token count as a JVM expression (oracle:
    ``len(regexp_split_to_array(trim(text), '\\s+'))`` in DuckDB)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))).cast("bigint")


_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")


@pandas_udf(T.LongType())
def bpe_token_count_udf(text: pd.Series) -> pd.Series:
    """BPE-ish token estimate: alpha runs count ceil(len/4) sub-tokens,
    digits and punctuation count 1 each (a common tokenizer approximation)."""
    def count(s: str) -> int:
        total = 0
        for m in _BPE_RE.finditer(s):
            tok = m.group(0)
            total += (len(tok) + 3) // 4 if tok[0].isalpha() else 1
        return total
    return text.map(count)


# ---------------------------------------------------------------------------
# Language identification (stopword-count heuristic, SQL-expressible)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of"],
    "it": ["il", "che", "di", "per"],
    "de": ["der", "und", "ist", "nicht"],
    "fr": ["le", "et", "est", "les"],
    "es": ["el", "que", "de", "los"],
}
LANG_ORDER = ["en", "it", "de", "fr", "es"]  # tie-break: first wins


def _occurrences(padded: Column, word: str) -> Column:
    needle = f" {word} "
    return ((F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("bigint")


def lang_score_col(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = F.lit(0).cast("bigint")
    for w in LANG_STOPWORDS[lang]:
        score = score + _occurrences(padded, w)
    return score


def _lang_id_case_col(text: Column) -> Column:
    """The original JVM CASE-ladder form of :func:`lang_id_col` — kept as
    the executable reference that the Arrow kernel is equivalence-tested
    against (tests/test_text.py), and as the shape ``lang_id_sql`` still
    emits for the DuckDB oracle.

    Historical measurement notes (r6): a zip_with + aggregate HOF argmax
    was 4x SLOWER than this ladder (HOFs are CodegenFallback); the ladder
    itself spends ~2.1 s of the 500k-doc text_pipeline in the 20
    ``replace``+``length`` scans (one pair per stopword), which is what
    the vectorized Arrow kernel in :func:`lang_id_col` removes."""
    scores = {lg: lang_score_col(text, lg) for lg in LANG_ORDER}
    expr = None
    for i, lg in enumerate(LANG_ORDER):
        cond = scores[lg] > 0  # zero evidence -> 'und'
        for other in LANG_ORDER[:i]:
            cond = cond & (scores[lg] > scores[other])
        for other in LANG_ORDER[i + 1:]:
            cond = cond & (scores[lg] >= scores[other])
        expr = F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
    return expr.otherwise(F.lit("und"))


def _lang_scores_kernel(docs) -> "np.ndarray":
    """(n_docs, len(LANG_ORDER)) int64 stopword scores, bit-identical to
    the ``replace``-count semantics of :func:`lang_score_col`:

    * the needle is ``" w "`` searched in ``" " + lower(text) + " "``;
      matches are counted NON-OVERLAPPING, greedy left-to-right — exactly
      what ``(length(x) - length(replace(x, n, ''))) / length(n)``
      computes.  The only way two matches of the same needle can overlap
      is by sharing the boundary space (the needle's sole border is
      ``" "``), i.e. at a gap of exactly ``len(needle) - 1`` — so greedy
      selection takes ceil(k/2) from every maximal chain of
      exactly-that-gap matches (``" is is is "`` counts 2, matching
      ``replace``), and every other match is independent;
    * the needles are pure ASCII, so a byte-level search over UTF-8 can
      neither split a code point nor miss a char-level match;
    * docs are joined with a NUL separator (never inside a needle), so
      one vectorized pass covers the whole Arrow batch.

    Lone-surrogate strings (unencodable) fall back to ``str.count``,
    whose non-overlapping greedy semantics match ``replace`` char-wise."""
    import numpy as np
    n = len(docs)
    n_langs = len(LANG_ORDER)
    scores = np.zeros((n, n_langs), dtype=np.int64)
    null_mask = np.zeros(n, dtype=bool)
    enc: list = []
    for i, s in enumerate(docs):
        if type(s) is not str:
            null_mask[i] = True
            enc.append(b"")
            continue
        padded = " " + s.lower() + " "
        try:
            enc.append(padded.encode("utf-8"))
        except UnicodeEncodeError:
            enc.append(b"")
            for li, lg in enumerate(LANG_ORDER):
                scores[i, li] = sum(padded.count(f" {w} ")
                                    for w in LANG_STOPWORDS[lg])
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    doc_starts = np.concatenate(([0], np.cumsum(lens + 1)[:-1]))
    buf = np.frombuffer(b"\x00".join(enc), dtype=np.uint8)
    if len(buf) == 0:
        return np.where(null_mask[:, None], -1, scores)
    space = buf == 0x20
    for li, lg in enumerate(LANG_ORDER):
        for w in LANG_STOPWORDS[lg]:
            nd = f" {w} ".encode()
            L = len(nd)
            if len(buf) < L:
                continue
            cand = np.flatnonzero(space[:len(buf) - L + 1] & space[L - 1:])
            for j in range(1, L - 1):
                if not len(cand):
                    break
                cand = cand[buf[cand + j] == nd[j]]
            if not len(cand):
                continue
            new_chain = np.r_[True, np.diff(cand) != (L - 1)]
            sizes = np.bincount(np.cumsum(new_chain) - 1)
            docs_of = np.searchsorted(doc_starts, cand[new_chain],
                                      side="right") - 1
            scores[:, li] += np.bincount(
                docs_of, weights=(sizes + 1) // 2, minlength=n
            ).astype(np.int64)
    scores[null_mask] = -1
    return scores


@pandas_udf(T.StringType())
def _lang_id_udf(text: pd.Series) -> pd.Series:
    import numpy as np
    scores = _lang_scores_kernel(list(text))
    mx = scores.max(axis=1)
    win = scores.argmax(axis=1)  # first max wins == the CASE ladder order
    langs = np.array(LANG_ORDER)
    out = np.where(mx > 0, langs[win], "und")
    return pd.Series(out)


def lang_id_col(text: Column) -> Column:
    """argmax over language stopword scores, first-wins on ties, 'und'
    when no stopword occurs or the text is NULL — value-identical to the
    CASE ladder ``lang_id_sql`` emits for the DuckDB oracle (and to
    :func:`_lang_id_case_col`, the JVM form; equivalence is fuzz-tested
    incl. the overlapping-needle chains).

    One vectorized Arrow pass (guide §4.2): the JVM ladder paid 20
    ``replace``-scan + ``length``-scan pairs per row — 2.15 s of the
    500k-doc text_pipeline's 3.18 s — while the batch kernel does one
    byte-search per stopword over the whole Arrow batch."""
    return _lang_id_udf(text)


def _occurrences_sql(padded: str, word: str) -> str:
    needle = f" {word} "
    return (f"cast((length({padded}) - length(replace({padded}, '{needle}', '')))"
            f" / {len(needle)} as bigint)")


def lang_score_sql(text_expr: str, lang: str) -> str:
    padded = f"(' ' || lower({text_expr}) || ' ')"
    return "(" + " + ".join(_occurrences_sql(padded, w) for w in LANG_STOPWORDS[lang]) + ")"


def lang_id_sql(text_expr: str) -> str:
    scores = {lg: lang_score_sql(text_expr, lg) for lg in LANG_ORDER}
    cases = []
    for i, lg in enumerate(LANG_ORDER):
        conds = [f"{scores[lg]} > 0"]
        conds += [f"{scores[lg]} > {scores[o]}" for o in LANG_ORDER[:i]]
        conds += [f"{scores[lg]} >= {scores[o]}" for o in LANG_ORDER[i + 1:]]
        cases.append("WHEN " + " AND ".join(conds) + f" THEN '{lg}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------

_PUNCT = ".,!?;:"


def punct_count_col(text: Column) -> Column:
    c = F.lit(0).cast("bigint")
    for ch in _PUNCT:
        c = c + (F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))).cast("bigint")
    return c


def punct_count_sql(text_expr: str) -> str:
    parts = [f"(length({text_expr}) - length(replace({text_expr}, '{ch}', '')))"
             for ch in _PUNCT]
    return "cast((" + " + ".join(parts) + ") as bigint)"


def quality_score_col(text: Column) -> Column:
    """0..1 heuristic: rewards 200-2000 char docs, some punctuation, and an
    English-stopword presence.  Rounded to 6 dp for oracle hash parity."""
    n = F.length(text).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_ratio = F.least(punct_count_col(text).cast("double") / F.greatest(n, F.lit(1.0))
                          * F.lit(20.0), F.lit(1.0))
    sw_ratio = F.least(lang_score_col(text, "en").cast("double")
                       / F.greatest(token_count_col(text).cast("double"), F.lit(1.0))
                       * F.lit(5.0), F.lit(1.0))
    return F.round((len_score + punct_ratio + sw_ratio) / F.lit(3.0), 6)


def quality_score_sql(text_expr: str) -> str:
    n = f"cast(length({text_expr}) as double)"
    tokens = (f"cast(case when length(trim({text_expr})) = 0 then 0 else "
              f"len(regexp_split_to_array(trim({text_expr}), '\\s+')) end as double)")
    len_score = f"least({n} / 500.0, 1.0)"
    punct_ratio = f"least(cast({punct_count_sql(text_expr)} as double) / greatest({n}, 1.0) * 20.0, 1.0)"
    sw_ratio = (f"least(cast({lang_score_sql(text_expr, 'en')} as double)"
                f" / greatest({tokens}, 1.0) * 5.0, 1.0)")
    return f"round(({len_score} + {punct_ratio} + {sw_ratio}) / 3.0, 6)"


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------


def fingerprint_col(text: Column) -> Column:
    """Stable content fingerprint = md5 hex (identical in Spark & DuckDB)."""
    return F.md5(text)


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style within-document filters)
# ---------------------------------------------------------------------------
# Boilerplate/spam pages repeat themselves: the classic web-corpus gates
# (Rae et al. 2021 "Gopher", Appendix A) drop docs whose duplicate-n-gram
# coverage or most-common-word share is too high.  Both metrics below are
# pure JVM higher-order-function expressions over the whitespace token
# array — no Python in the hot path, whole-stage codegen preserved — with
# bit-matching DuckDB SQL for the value-hash oracle.


def _tokens(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))


def dup_ngram_frac_col(text: Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier occurrence:
    ``1 - distinct_ngrams/total_ngrams`` (0.0 when fewer than ``n``
    tokens).  A doc of one phrase pasted k times scores ~(k-1)/k."""
    toks = _tokens(text)
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(cnt <= 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams))
                / cnt.cast("double"), 6))


def dup_ngram_frac_sql(text_expr: str, n: int = 3) -> str:
    toks = (f"(case when length(trim({text_expr})) = 0 then []::varchar[] "
            f"else regexp_split_to_array(trim({text_expr}), '\\s+') end)")
    cnt = f"(len({toks}) - {n - 1})"
    grams = (f"list_transform(range(1, greatest({cnt}, 1) + 1), "
             f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))")
    return (f"(case when {cnt} <= 0 then 0.0 else "
            f"round(1.0 - len(list_distinct({grams})) / cast({cnt} as double), 6)"
            f" end)")


def top_word_frac_col(text: Column) -> Column:
    """Share of tokens taken by the single most frequent (lowercased)
    token — the "most common word" Gopher gate.  Per-row cost is
    O(distinct x tokens) inside one codegen'd expression; web pages are
    hundreds of tokens, so this stays cheap and JVM-side."""
    toks = F.transform(_tokens(text), F.lower)
    top = F.array_max(F.transform(
        F.array_distinct(toks),
        lambda w: F.size(F.filter(toks, lambda t: t == w))))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(top / F.size(toks).cast("double"), 6))


def top_word_frac_sql(text_expr: str) -> str:
    toks = (f"(case when length(trim({text_expr})) = 0 then []::varchar[] "
            f"else list_transform(regexp_split_to_array(trim({text_expr}), "
            f"'\\s+'), w -> lower(w)) end)")
    top = (f"list_max(list_transform(list_distinct({toks}), "
           f"w -> len(list_filter({toks}, t -> t = w))))")
    return (f"(case when len({toks}) = 0 then 0.0 else "
            f"round({top} / cast(len({toks}) as double), 6) end)")


# ---------------------------------------------------------------------------
# PII scrubbing (email / IPv4 / phone redaction)
# ---------------------------------------------------------------------------
# Standard web-corpus hygiene before training: replace personally
# identifying spans with placeholder tokens.  Heuristic regexes on
# purpose (corpus curation, not compliance): the pattern set is the
# common Java-regex/RE2 subset (no backrefs, no lookaround) so the SAME
# pattern strings run in Spark (Java) and DuckDB (RE2) — the value-hash
# oracle proves the two engines' scrubbed text matches byte-for-byte.
# Order matters and is part of the contract: emails first (their local
# parts contain digits a later pass could mangle), then dotted quads,
# then phone numbers.

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone",
     r"(?:\+\d{1,3}[-. ]?)?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b",
     "<PHONE>"),
]


def pii_scrub_col(text: Column) -> Column:
    """Text with email/IPv4/phone spans replaced by placeholder tokens.
    A chain of three JVM ``regexp_replace`` expressions — whole-stage
    codegen, no Python.  Counts of what WOULD be scrubbed come from
    :func:`pii_count_cols` (computed on the original text)."""
    out = text
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_scrub_sql(text_expr: str) -> str:
    out = text_expr
    for _, pat, rep in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{rep}', 'g')"
    return out


def pii_count_cols(text: Column) -> dict[str, Column]:
    """``{"n_email": .., "n_ipv4": .., "n_phone": ..}`` match counts on
    the ORIGINAL text (each pattern counted independently; a span two
    patterns both match is counted by both — documented heuristic)."""
    return {f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("bigint")
            for name, pat, _ in PII_PATTERNS}


def pii_count_sqls(text_expr: str) -> dict[str, str]:
    return {f"n_{name}":
            f"len(regexp_extract_all({text_expr}, '{pat}'))::BIGINT"
            for name, pat, _ in PII_PATTERNS}


# ---------------------------------------------------------------------------
# URL anatomy (host / registered domain / path depth)
# ---------------------------------------------------------------------------
# Per-domain mixing, host caps and domain-level reputation scoring all key
# on URL anatomy.  Pure regex (Java/RE2 common subset) so the DuckDB
# oracle runs the identical patterns; registered-domain uses a small
# embedded two-level-TLD list (co.uk-style) rather than the full public
# suffix list — documented approximation, swap in the PSL for production.

_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"
_TWO_LEVEL_TLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "co.za", "com.tr", "com.ar",
)


def url_host_col(url: Column) -> Column:
    """Lower-cased authority host (userinfo stripped, port excluded);
    '' for unparseable values."""
    return F.lower(F.regexp_extract(url, _URL_HOST_RE, 1))


def url_host_sql(url_expr: str) -> str:
    return f"lower(regexp_extract({url_expr}, '{_URL_HOST_RE}', 1))"


def registered_domain_col(url: Column) -> Column:
    """Registrable domain: last two host labels, or last THREE when the
    last two are a known two-level TLD (co.uk etc.)."""
    host = url_host_col(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    tld2 = F.array(*[F.lit(t) for t in _TWO_LEVEL_TLDS])
    need3 = F.array_contains(tld2, last2) & (n >= 3)
    last3 = F.concat_ws(".", F.element_at(parts, -3), F.element_at(parts, -2),
                        F.element_at(parts, -1))
    return (F.when(host == "", "")
            .when(n <= 2, host)
            .when(need3, last3)
            .otherwise(last2))


def registered_domain_sql(url_expr: str) -> str:
    host = url_host_sql(url_expr)
    tlds = ", ".join(f"'{t}'" for t in _TWO_LEVEL_TLDS)
    return f"""(
 WITH h AS (SELECT {host} AS host)
 SELECT CASE
   WHEN host = '' THEN ''
   WHEN len(string_split(host, '.')) <= 2 THEN host
   WHEN list_contains([{tlds}],
        array_to_string(string_split(host, '.')[-2:], '.'))
        AND len(string_split(host, '.')) >= 3
     THEN array_to_string(string_split(host, '.')[-3:], '.')
   ELSE array_to_string(string_split(host, '.')[-2:], '.')
 END FROM h)"""


def url_path_depth_col(url: Column) -> Column:
    """Number of non-empty path segments (query/fragment excluded)."""
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    return F.size(segs).cast("bigint")


def url_path_depth_sql(url_expr: str) -> str:
    path = (f"regexp_extract({url_expr}, "
            f"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
    return (f"cast(len(list_filter(string_split({path}, '/'), "
            f"s -> s <> '')) as bigint)")


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup key)
# ---------------------------------------------------------------------------
# A crawl sees the same logical page under many spellings: mixed-case
# scheme/host, default ports, tracking query params, param order, trailing
# slash, fragments.  Canonicalization maps the variants to ONE key so exact
# dedup can collapse them (CC/WARC pipelines do this before content dedup).
# Contract (documented, deliberately conservative — path case, %-encoding
# and duplicate-slash collapsing are left alone because they can change
# server-side meaning):
#   1. scheme and host lowercased, userinfo stripped;
#   2. default port dropped (:80 for http, :443 for https; others kept);
#   3. fragment dropped;
#   4. tracking params dropped (utm_*, fbclid, gclid, msclkid, ref, ref_src),
#      remaining query params sorted bytewise and rejoined; empty query -> no '?';
#   5. empty path -> '/', trailing '/' stripped from non-root paths.
# Pure JVM regex/array expressions in the Java/RE2 common subset, identical
# pattern strings in the DuckDB mirror.

_URL_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_URL_AUTH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]*)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY_RE = r"^[^#]*\?([^#]*)"
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)(=.*)?$"


def url_canonical_col(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (see contract above);
    '' for values with no scheme://."""
    scheme = F.lower(F.regexp_extract(url, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(url, _URL_AUTH_RE, 1))
    host = (F.when(scheme == "http",
                   F.regexp_replace(hostport, ":80$", ""))
            .when(scheme == "https",
                  F.regexp_replace(hostport, ":443$", ""))
            .otherwise(hostport))
    rawpath = F.regexp_extract(url, _URL_PATH_RE, 1)
    trimmed = F.regexp_replace(rawpath, "/$", "")
    path = (F.when(rawpath == "", F.lit("/"))
            .when(trimmed == "", F.lit("/"))
            .otherwise(trimmed))
    q = F.regexp_extract(url, _URL_QUERY_RE, 1)
    keep = F.array_sort(F.filter(
        F.split(q, "&"),
        lambda x: (x != "") & ~x.rlike(_TRACKING_PARAM_RE)))
    qs = F.array_join(keep, "&")
    return F.when(scheme == "", F.lit("")).otherwise(F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs))))


def url_canonical_sql(url_expr: str) -> str:
    """DuckDB mirror of :func:`url_canonical_col` — identical regex
    patterns, list_filter/list_sort for the query-param set."""
    u = url_expr
    scheme = f"lower(regexp_extract({u}, '{_URL_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({u}, '{_URL_AUTH_RE}', 1))"
    host = (f"(CASE WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '') "
            f"WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '') "
            f"ELSE {hostport} END)")
    rawpath = f"regexp_extract({u}, '{_URL_PATH_RE}', 1)"
    trimmed = f"regexp_replace({rawpath}, '/$', '')"
    path = (f"(CASE WHEN {rawpath} = '' THEN '/' "
            f"WHEN {trimmed} = '' THEN '/' ELSE {trimmed} END)")
    q = f"regexp_extract({u}, '{_URL_QUERY_RE}', 1)"
    keep = (f"list_sort(list_filter(string_split({q}, '&'), "
            f"x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_PARAM_RE}')))")
    # DuckDB's array_to_string([]) is NULL (Spark's array_join is ''):
    qs = f"coalesce(array_to_string({keep}, '&'), '')"
    return (f"(CASE WHEN {scheme} = '' THEN '' ELSE "
            f"{scheme} || '://' || {host} || {path} || "
            f"(CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END) END)")


# ---------------------------------------------------------------------------
# Extended Gopher gates (Rae et al. 2021, Appendix A) + script mix
# ---------------------------------------------------------------------------
# The remaining document-shape gates beyond quality_score/repetition:
# mean word length, symbol-to-word ratio, bullet/ellipsis line fractions,
# alphabetic-word fraction, stopword count.  All pure JVM HOF/regex
# expressions with bit-matching DuckDB SQL.

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_gate_cols(text: Column) -> dict[str, Column]:
    toks = _tokens(text)
    ntok = F.size(toks)
    lines = F.split(text, "\n")
    nlines = F.size(lines)
    low = F.transform(toks, F.lower)
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    mean_wl = F.when(ntok == 0, F.lit(0.0)).otherwise(F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / ntok.cast("double"), 6))
    sym_ratio = F.when(ntok == 0, F.lit(0.0)).otherwise(F.round(
        F.regexp_count(text, F.lit(r"#|\.\.\.")) / ntok.cast("double"), 6))
    bullet = F.round(F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^\s*[-*•]\s")))
        / nlines.cast("double"), 6)
    ellipsis = F.round(F.size(F.filter(
        lines, lambda ln: ln.rlike(r"\.\.\.\s*$")))
        / nlines.cast("double"), 6)
    alpha_frac = F.when(ntok == 0, F.lit(0.0)).otherwise(F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        / ntok.cast("double"), 6))
    stop_n = F.size(F.filter(low, lambda t: F.array_contains(stop_arr, t)))
    return {"mean_word_len": mean_wl, "symbol_word_ratio": sym_ratio,
            "bullet_line_frac": bullet, "ellipsis_line_frac": ellipsis,
            "alpha_word_frac": alpha_frac,
            "stopword_count": stop_n.cast("bigint")}


def gopher_gate_sqls(text_expr: str) -> dict[str, str]:
    toks = (f"(case when length(trim({text_expr})) = 0 then []::varchar[] "
            f"else regexp_split_to_array(trim({text_expr}), '\\s+') end)")
    ntok = f"len({toks})"
    lines = f"string_split({text_expr}, chr(10))"
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)
    return {
        "mean_word_len": (
            f"(case when {ntok} = 0 then 0.0 else round("
            f"list_sum(list_transform({toks}, t -> length(t)))"
            f" / cast({ntok} as double), 6) end)"),
        "symbol_word_ratio": (
            f"(case when {ntok} = 0 then 0.0 else round("
            f"len(regexp_extract_all({text_expr}, '#|\\.\\.\\.'))"
            f" / cast({ntok} as double), 6) end)"),
        "bullet_line_frac": (
            f"round(len(list_filter({lines}, "
            f"ln -> regexp_matches(ln, '^\\s*[-*\\x{{2022}}]\\s')))"
            f" / cast(len({lines}) as double), 6)"),
        "ellipsis_line_frac": (
            f"round(len(list_filter({lines}, "
            f"ln -> regexp_matches(ln, '\\.\\.\\.\\s*$')))"
            f" / cast(len({lines}) as double), 6)"),
        "alpha_word_frac": (
            f"(case when {ntok} = 0 then 0.0 else round("
            f"len(list_filter({toks}, t -> regexp_matches(t, '[A-Za-z]')))"
            f" / cast({ntok} as double), 6) end)"),
        "stopword_count": (
            f"cast(len(list_filter(list_transform({toks}, t -> lower(t)), "
            f"t -> list_contains([{stops}], t))) as bigint)"),
    }


# script mix: per-script character fractions over the total character
# count — the web-corpus language-mix audit (a page claiming lang=en but
# 60% CJK chars is mislabeled).  Ranges are the core BMP blocks.
_SCRIPT_RANGES = {
    "latin": ("A-Za-z", "A-Za-z"),
    "cyrillic": ("Ѐ-ӿ", r"\x{0400}-\x{04FF}"),
    "greek": ("Ͱ-Ͽ", r"\x{0370}-\x{03FF}"),
    "han": ("一-鿿", r"\x{4E00}-\x{9FFF}"),
}


def script_fraction_cols(text: Column) -> dict[str, Column]:
    n = F.length(text)
    out = {}
    for name, (java_rng, _) in _SCRIPT_RANGES.items():
        cnt = F.regexp_count(text, F.lit(f"[{java_rng}]"))
        out[f"frac_{name}"] = F.when(n == 0, F.lit(0.0)).otherwise(
            F.round(cnt / n.cast("double"), 6))
    return out


def script_fraction_sqls(text_expr: str) -> dict[str, str]:
    n = f"length({text_expr})"
    out = {}
    for name, (_, re2_rng) in _SCRIPT_RANGES.items():
        cnt = f"len(regexp_extract_all({text_expr}, '[{re2_rng}]'))"
        out[f"frac_{name}"] = (f"(case when {n} = 0 then 0.0 else "
                               f"round({cnt} / cast({n} as double), 6) end)")
    return out


# ---------------------------------------------------------------------------
# Model-based quality filtering (hashing-trick linear classifier)
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020) and GPT-3 (Brown et al. 2020, App. A) gate
# web documents with a linear classifier over hashed bag-of-words
# features (the fastText recipe).  Inference is embarrassingly
# data-parallel: score = sigmoid(bias + mean over tokens of
# w[h(token) % D]).  Here the whole scorer is ONE whole-stage-codegen
# JVM expression — the weight vector rides in the plan as a single
# array<double> literal (shipped once per task, no shuffle, no Python,
# no join) and the token->bucket hash is the md5-prefix trick that both
# Spark (conv(substr(md5,..),16,10)) and DuckDB ('0x'||.. ::BIGINT)
# compute bit-identically, so the oracle can replay the exact model.
# The plan-literal approach is right for D <= ~2^16 (0.5 MB); a bigger
# model should ship as a closure over a Pandas UDF instead (the
# operators/ann.py assign-UDF pattern) — enforced by the assert.


def bow_tokens_col(text: Column) -> Column:
    """Lowercased whitespace-split tokens ([] for blank docs) — the
    hashed-feature tokenizer shared by the BOW classifier and DSIR."""
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))


def bow_tokens_sql(text_expr: str) -> str:
    t = f"trim(lower({text_expr}))"
    return (f"(case when length({t}) = 0 then []::varchar[] "
            f"else regexp_split_to_array({t}, '\\s+') end)")


def token_bucket_col(tok: Column, n_features: int) -> Column:
    """0-based feature bucket via the md5-prefix 60-bit hash (identical
    in DuckDB: :func:`token_bucket_sql`)."""
    return F.pmod(F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
                  .cast("bigint"), F.lit(n_features))


def token_bucket_sql(tok_expr: str, n_features: int) -> str:
    return (f"(('0x' || substr(md5({tok_expr}),1,15))::BIGINT "
            f"% {n_features})")


def hashed_bow_score_col(text: Column, weights: list[float],
                         bias: float = 0.0) -> Column:
    """Classifier probability in [0,1] for each doc (round 6).  Tokens
    are the lowercased whitespace split; a doc with no tokens scores
    ``sigmoid(bias)``."""
    D = len(weights)
    assert 4 <= D <= 65536, "plan-literal scorer wants 4 <= D <= 2^16"
    w = F.lit([float(x) for x in weights])
    toks = bow_tokens_col(text)
    s = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, tok: acc + F.element_at(
            w, (token_bucket_col(tok, D) + 1).cast("int")))
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    z = F.lit(float(bias)) + s / n
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def hashed_bow_score_sql(text_expr: str, weights_expr: str,
                         n_features: int, bias: float = 0.0) -> str:
    """DuckDB mirror of :func:`hashed_bow_score_col`; ``weights_expr``
    must evaluate to the same D-element DOUBLE list."""
    toks = bow_tokens_sql(text_expr)
    wt = f"{weights_expr}[({token_bucket_sql('tok', n_features)} + 1)::INT]"
    s = f"coalesce(list_sum(list_transform({toks}, tok -> {wt})), 0.0)"
    n = f"greatest(len({toks}), 1)"
    return (f"round(1.0 / (1.0 + exp(-({bias!r} + {s} / {n}))), 6)")


def demo_classifier_weights(n_features: int = 4096) -> list[float]:
    """Deterministic stand-in model (Knuth-multiplier pseudo-weights in
    [-1, 1]) so tests and the oracle replay the identical classifier;
    the SQL twin is :func:`demo_classifier_weights_sql`."""
    return [((i * 2654435761) % 2001) / 1000.0 - 1.0
            for i in range(n_features)]


def demo_classifier_weights_sql(n_features: int = 4096) -> str:
    return (f"list_transform(range({n_features}), "
            f"i -> ((i * 2654435761) % 2001) / 1000.0 - 1.0)")


# ---------------------------------------------------------------------------
# HTML -> text extraction: the first step of every web-crawl pipeline
# (WET-style text extraction).  Heuristic regex stripper on purpose —
# a full HTML5 parser is a per-document library call (trafilatura /
# lxml territory, the functions/media.py stub pattern); this tier
# handles the standard crawl shape (drop script/style/comments, strip
# tags, decode the common entities, collapse whitespace) as a chain of
# JVM regexp_replace expressions in whole-stage codegen.  Patterns are
# the Java-regex/RE2 common subset (non-greedy spans, (?is) flags, no
# backrefs) so the SAME strings run in DuckDB — order is the contract:
# scripts/styles/comments BEFORE generic tags (their bodies contain
# '<'), entities AFTER tags (decoded '&lt;p&gt;' must NOT re-strip).
# ---------------------------------------------------------------------------

_HTML_DROP = [
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
    r"(?is)</?[a-z][^>]*>",
]
# (entity, replacement) — &amp; LAST so '&amp;lt;' decodes to '&lt;'
# literally, never double-decodes to '<'
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&quot;", "\""), ("&#39;", "'"),
    ("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&"),
]
_WS_CLASS = r"[ \t\n\r\f]+"  # explicit: Java \s and RE2 \s differ on \x0B


def html_strip_col(html: Column) -> Column:
    """Visible text of an HTML document (codegen-only)."""
    out = html
    for pat in _HTML_DROP:
        out = F.regexp_replace(out, pat, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, _WS_CLASS, " "))


def html_strip_sql(html_expr: str) -> str:
    out = html_expr
    # dotall comes from the INLINE (?s)/(?is) flags — DuckDB's 's'
    # option means newline-SENSITIVE (the opposite), never pass it
    for pat in _HTML_DROP:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '{_WS_CLASS}', ' ', 'g'))"


def html_title_col(html: Column) -> Column:
    """<title> contents ('' when absent), inner whitespace collapsed."""
    raw = F.regexp_extract(html, r"(?is)<title\b[^>]*>(.*?)</title>", 1)
    return F.trim(F.regexp_replace(raw, _WS_CLASS, " "))


def html_title_sql(html_expr: str) -> str:
    raw = (f"coalesce(regexp_extract({html_expr}, "
           f"'(?is)<title\\b[^>]*>(.*?)</title>', 1), '')")
    return f"trim(regexp_replace({raw}, '{_WS_CLASS}', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Unicode normalization — crawl hygiene before any hashing/dedup tier:
# the same visible text arrives precomposed on one site and decomposed
# (NFD, combining marks) on another, and every fingerprint/MinHash/
# exact-dedup operator in this repo hashes BYTES, so un-normalized
# corpora under-deduplicate.  Normalization tables aren't expressible
# as SQL expressions -> Arrow-batched Pandas UDF (the functions/geo.py
# S2 pattern).  Python's unicodedata and DuckDB's nfc_normalize
# (utf8proc) agree on NFC for real-world text (verified on combining
# marks, Hangul jamo, ligatures, fullwidth forms), which is what lets
# the oracle value-hash the UDF output.
# ---------------------------------------------------------------------------


def make_normalize_udf(form: str = "NFC"):
    """Pandas UDF text -> unicodedata.normalize(form, text); nulls and
    non-strings pass through unchanged."""
    import unicodedata
    assert form in ("NFC", "NFKC", "NFD", "NFKD")

    @pandas_udf(T.StringType())
    def norm_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize(form, x)
                     if isinstance(x, str) else x)
    return norm_udf


def nfc_normalize_col(text: Column) -> Column:
    return make_normalize_udf("NFC")(text)

# ---------------------------------------------------------------------------
# Hyperlink extraction (the web-graph tier)
# ---------------------------------------------------------------------------
# A Common-Crawl-style pipeline derives the LINK GRAPH from the raw HTML:
# hrefs out of every page, resolved against the page URL, canonicalized,
# and aggregated into (src, dst, weight) edges that feed PageRank /
# domain-authority scoring (operators/graph.py) and crawl-frontier
# selection.  Same design rules as html_strip above: the extractor is a
# chain of JVM regex expressions in the Java/RE2 common subset so the
# DuckDB oracle runs the IDENTICAL pattern strings.
#
# Contract (documented, deliberately conservative):
#   * hrefs are taken from double-quoted ``href="..."`` attributes of
#     ``<a>`` tags (the normalized-crawl shape; single-quoted/bare attrs
#     are a parser-tier concern, like the real HTML5 decode hooks in
#     functions/media.py);
#   * resolution keeps absolute http(s) links, protocol-relative
#     ``//host/...`` (base scheme), and root-relative ``/path`` (base
#     scheme://host); fragments, javascript:/mailto:/data:/tel: and
#     directory-relative paths resolve to '' (dropped) — host-level web
#     graphs (the 100 TB use case) lose nothing, since a directory-
#     relative link can only point at its own host.

# \s before href: without it, data-href="..."/xlink:href would match
# on the substring and emit phantom links
_HREF_RE = r'(?is)<a\b[^>]*?\shref\s*=\s*"([^"]*)"'
_HTTP_ABS_RE = r"(?i)^https?://"


def extract_hrefs_col(html: Column) -> Column:
    """array<string> of raw href values from ``<a href="...">`` tags."""
    return F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))


def extract_hrefs_sql(html_expr: str) -> str:
    pat = _HREF_RE.replace("'", "''")
    return f"regexp_extract_all({html_expr}, '{pat}', 1)"


def resolve_link_col(href: Column, base_url: Column) -> Column:
    """Absolute form of ``href`` against ``base_url`` per the contract
    above ('' when dropped).  Pure codegen — no UDF."""
    scheme = F.lower(F.regexp_extract(base_url, _URL_SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(base_url, _URL_AUTH_RE, 1))
    return (F.when(scheme == "", F.lit(""))
            .when(href.rlike(_HTTP_ABS_RE), href)
            .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
            .when(href.startswith("/"),
                  F.concat(scheme, F.lit("://"), host, href))
            .otherwise(F.lit("")))


def resolve_link_sql(href_expr: str, base_expr: str) -> str:
    """DuckDB mirror of :func:`resolve_link_col` (identical patterns)."""
    h, u = href_expr, base_expr
    scheme = f"lower(regexp_extract({u}, '{_URL_SCHEME_RE}', 1))"
    host = f"lower(regexp_extract({u}, '{_URL_AUTH_RE}', 1))"
    return (f"(CASE WHEN {scheme} = '' THEN '' "
            f"WHEN regexp_matches({h}, '{_HTTP_ABS_RE}') THEN {h} "
            f"WHEN {h} LIKE '//%' THEN {scheme} || ':' || {h} "
            f"WHEN {h} LIKE '/%' THEN {scheme} || '://' || {host} || {h} "
            f"ELSE '' END)")


def anchor_text_pairs_col(html: Column) -> Column:
    """array<struct<href,anchor>> — href plus its visible anchor text
    (inner tags stripped, whitespace collapsed).  Both arrays come from
    the SAME pattern so they align match-for-match."""
    pat = _HREF_RE + r"[^>]*>(.*?)</a>"
    hrefs = F.regexp_extract_all(html, F.lit(pat), F.lit(1))
    raw = F.regexp_extract_all(html, F.lit(pat), F.lit(2))
    anchors = F.transform(raw, lambda a: F.trim(F.regexp_replace(
        F.regexp_replace(a, r"(?is)</?[a-z][^>]*>", " "),
        _WS_CLASS, " ")))
    return F.arrays_zip(hrefs.alias("href"), anchors.alias("anchor"))


def anchor_text_pairs_sql(html_expr: str) -> str:
    pat = (_HREF_RE + r"[^>]*>(.*?)</a>").replace("'", "''")
    hrefs = f"regexp_extract_all({html_expr}, '{pat}', 1)"
    raw = f"regexp_extract_all({html_expr}, '{pat}', 2)"
    anchors = (f"list_transform({raw}, a -> trim(regexp_replace("
               f"regexp_replace(a, '(?is)</?[a-z][^>]*>', ' ', 'g'), "
               f"'{_WS_CLASS}', ' ', 'g')))")
    return (f"list_transform(list_zip({hrefs}, {anchors}), "
            f"z -> {{'href': z[1], 'anchor': z[2]}})")


# ---------------------------------------------------------------------------
# Crawl-policy extraction: <meta name="robots"> directives and
# <link rel="canonical"> targets — the two in-page signals every crawl
# pipeline must honor before a page enters the corpus (noindex pages are
# excluded from indexes/corpora; canonical links collapse URL-level
# duplicates the canonicalizer alone can't see, e.g. print views and
# pagination variants declaring one canonical target).  Same design
# rules as the href extractor above: double-quoted attributes, patterns
# in the Java-regex/RE2 common subset so DuckDB runs the IDENTICAL
# strings, [^>]*? spans that cannot cross a tag boundary (so one tag's
# content= can never pair with another tag's name=).  Both attribute
# orders are matched (name-first and content-first / rel-first and
# href-first) — real crawls contain both.
# ---------------------------------------------------------------------------

_META_ROBOTS_NAME_FIRST = (r'(?is)<meta\b[^>]*?\sname\s*=\s*"robots"'
                           r'[^>]*?\scontent\s*=\s*"([^"]*)"')
_META_ROBOTS_CONTENT_FIRST = (r'(?is)<meta\b[^>]*?\scontent\s*=\s*"([^"]*)"'
                              r'[^>]*?\sname\s*=\s*"robots"')
_LINK_CANON_REL_FIRST = (r'(?is)<link\b[^>]*?\srel\s*=\s*"canonical"'
                         r'[^>]*?\shref\s*=\s*"([^"]*)"')
_LINK_CANON_HREF_FIRST = (r'(?is)<link\b[^>]*?\shref\s*=\s*"([^"]*)"'
                          r'[^>]*?\srel\s*=\s*"canonical"')


def _first_nonempty(a: Column, b: Column) -> Column:
    return F.when(a != "", a).otherwise(b)


def robots_directives_col(html: Column) -> Column:
    """array<string> of normalized robots directives (lowercased,
    trimmed, empties dropped) from the page's ``<meta name="robots">``
    tag; ``[]`` when the tag is absent.  An all-whitespace content
    attribute also yields ``[]`` (no directives)."""
    raw = _first_nonempty(
        F.regexp_extract(html, _META_ROBOTS_NAME_FIRST, 1),
        F.regexp_extract(html, _META_ROBOTS_CONTENT_FIRST, 1))
    return F.filter(
        F.transform(F.split(F.lower(raw), ","), lambda t: F.trim(t)),
        lambda t: t != "")


def robots_directives_sql(html_expr: str) -> str:
    """DuckDB mirror of :func:`robots_directives_col` (identical
    patterns; DuckDB regexp_extract needs a NULL-on-no-match coalesce)."""
    p1 = _META_ROBOTS_NAME_FIRST.replace("'", "''")
    p2 = _META_ROBOTS_CONTENT_FIRST.replace("'", "''")
    e1 = f"coalesce(regexp_extract({html_expr}, '{p1}', 1), '')"
    e2 = f"coalesce(regexp_extract({html_expr}, '{p2}', 1), '')"
    raw = f"(CASE WHEN {e1} <> '' THEN {e1} ELSE {e2} END)"
    return (f"list_filter(list_transform(string_split(lower({raw}), ','), "
            f"t -> trim(t)), t -> t <> '')")


def canonical_href_col(html: Column) -> Column:
    """Raw href of the page's ``<link rel="canonical">`` tag ('' when
    absent); resolve with :func:`resolve_link_col` against the page URL
    and canonicalize with :func:`url_canonical_col` downstream."""
    return _first_nonempty(
        F.regexp_extract(html, _LINK_CANON_REL_FIRST, 1),
        F.regexp_extract(html, _LINK_CANON_HREF_FIRST, 1))


def canonical_href_sql(html_expr: str) -> str:
    p1 = _LINK_CANON_REL_FIRST.replace("'", "''")
    p2 = _LINK_CANON_HREF_FIRST.replace("'", "''")
    e1 = f"coalesce(regexp_extract({html_expr}, '{p1}', 1), '')"
    e2 = f"coalesce(regexp_extract({html_expr}, '{p2}', 1), '')"
    return f"(CASE WHEN {e1} <> '' THEN {e1} ELSE {e2} END)"


# ---------------------------------------------------------------------------
# Main-content extraction (boilerplate removal) — the Arc90-readability /
# jusText block heuristic: drop script/style/comment spans globally,
# split the document into blocks at closing block-level tags, keep
# blocks that carry enough visible text and are not link-dominated
# (navigation, footers, related-article rails).  Link density uses
# INTEGER arithmetic (3 * anchor_len <= text_len, i.e. density <= 1/3)
# so both engines decide each block on exact bigints — no float
# division in the contract.  Whole chain is codegen HOFs over the block
# array: zero shuffle, zero Python — at 100 TB this is a map-only stage
# on the page scan, same shape as html_strip above.
# ---------------------------------------------------------------------------

_BLOCK_SPLIT_RE = (r"(?is)</(?:p|div|li|td|th|article|section|h[1-6]|"
                   r"blockquote|pre)>")
_ANCHOR_BODY_RE = r"(?is)<a\b[^>]*>(.*?)</a>"


def _block_text_col(b: Column) -> Column:
    """Visible text of one block: strip tags, decode entities, collapse
    whitespace (the html_strip contract minus the global span drops,
    which already happened document-wide)."""
    out = F.regexp_replace(b, r"(?is)</?[a-z][^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, _WS_CLASS, " "))


def _block_text_sql(b: str) -> str:
    out = f"regexp_replace({b}, '(?is)</?[a-z][^>]*>', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '{_WS_CLASS}', ' ', 'g'))"


def _anchor_len_col(b: Column) -> Column:
    """Total visible-character count inside the block's <a> bodies."""
    parts = F.regexp_extract_all(b, F.lit(_ANCHOR_BODY_RE), F.lit(1))
    return F.aggregate(parts, F.lit(0),
                       lambda acc, a: acc + F.length(_block_text_col(a)))


def _anchor_len_sql(b: str) -> str:
    pat = _ANCHOR_BODY_RE.replace("'", "''")
    parts = f"regexp_extract_all({b}, '{pat}', 1)"
    return (f"coalesce(list_sum(list_transform({parts}, "
            f"a -> length({_block_text_sql('a')}))), 0)")


def main_content_col(html: Column, min_chars: int = 25) -> Column:
    """Main text of an HTML page: script/style/comment spans dropped
    document-wide, then blocks (split at closing block tags) kept iff
    their visible text has >= ``min_chars`` characters AND link density
    <= 1/3 (3 * anchor_chars <= text_chars); kept block texts joined by
    newline ('' when nothing survives)."""
    cleaned = html
    for pat in _HTML_DROP[:3]:  # scripts, styles, comments — NOT tags
        cleaned = F.regexp_replace(cleaned, pat, " ")
    blocks = F.split(cleaned, _BLOCK_SPLIT_RE)

    def keep(b: Column) -> Column:
        t = _block_text_col(b)
        return ((F.length(t) >= min_chars)
                & (F.lit(3) * _anchor_len_col(b) <= F.length(t)))

    kept = F.filter(blocks, keep)
    return F.coalesce(
        F.array_join(F.transform(kept, _block_text_col), "\n"), F.lit(""))


def main_content_sql(html_expr: str, min_chars: int = 25) -> str:
    """DuckDB mirror of :func:`main_content_col` (identical patterns;
    array_to_string([]) NULL -> coalesce)."""
    cleaned = html_expr
    for pat in _HTML_DROP[:3]:
        cleaned = f"regexp_replace({cleaned}, '{pat}', ' ', 'g')"
    split_pat = _BLOCK_SPLIT_RE.replace("'", "''")
    blocks = f"regexp_split_to_array({cleaned}, '{split_pat}')"
    t = _block_text_sql("b")
    pred = (f"length({t}) >= {min_chars} AND "
            f"3 * {_anchor_len_sql('b')} <= length({t})")
    kept = f"list_filter({blocks}, b -> {pred})"
    return (f"coalesce(array_to_string(list_transform({kept}, "
            f"b -> {_block_text_sql('b')}), chr(10)), '')")


# ---------------------------------------------------------------------------
# Search-result snippets (KWIC — keyword in context) and readability
# scoring (Flesch-Kincaid grade).  Both pure codegen; readability keeps
# every reduction integer (token/sentence/vowel-group counts) so the
# final grade is a fixed sequence of exact-ratio double ops — the same
# arithmetic expression in both engines.
# ---------------------------------------------------------------------------


def kwic_col(text: Column, term: str, window: int = 3) -> Column:
    """Context snippet around the FIRST occurrence of ``term`` among the
    whitespace tokens (trim+lower+split contract): ``window`` tokens
    each side joined by spaces; '' when the term is absent.  The
    snippet preserves original-case tokens (match is case-insensitive)."""
    term = term.strip().lower()
    toks = F.split(F.trim(text), r"\s+")
    pos = F.array_position(F.transform(toks, F.lower), term)
    lo = F.greatest(pos - window, F.lit(1))
    # slice length: from lo through pos+window, clamped by array size
    ln = F.least(pos + window, F.size(toks)) - lo + 1
    return F.when(pos > 0,
                  F.array_join(F.slice(toks, lo, ln), " ")) \
        .otherwise(F.lit(""))


def kwic_sql(text_expr: str, term: str, window: int = 3) -> str:
    """DuckDB mirror of :func:`kwic_col`."""
    term = term.strip().lower().replace("'", "''")
    toks = f"regexp_split_to_array(trim({text_expr}), '\\s+')"
    pos = (f"list_position(list_transform({toks}, t -> lower(t)), "
           f"'{term}')")
    lo = f"greatest({pos} - {window}, 1)"
    hi = f"least({pos} + {window}, len({toks}))"
    return (f"(CASE WHEN coalesce({pos}, 0) > 0 THEN "
            f"coalesce(array_to_string({toks}[{lo}:{hi}], ' '), '') "
            f"ELSE '' END)")


def readability_cols(text: Column) -> dict:
    """Flesch-Kincaid inputs + grade as named columns: ``n_words``,
    ``n_sentences`` (runs of [.!?], min 1), ``n_syllables`` (vowel-group
    heuristic: runs of [aeiouy], min 1 per word), and ``fk_grade`` =
    0.39*(words/sentences) + 11.8*(syllables/words) - 15.59, rounded to
    4 dp.  All counts integer; the grade is a fixed op sequence over
    exact integer ratios — oracle-identical."""
    toks = F.filter(F.split(F.trim(F.lower(text)), r"\s+"),
                    lambda t: t != "")
    n_words = F.greatest(F.size(toks), F.lit(1))
    n_sent = F.greatest(F.size(F.regexp_extract_all(
        text, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1))
    syl = F.aggregate(
        toks, F.lit(0),
        lambda acc, t: acc + F.greatest(
            F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"),
                                        F.lit(0))), F.lit(1)))
    n_syl = F.greatest(syl, F.lit(1))
    grade = F.round(
        F.lit(0.39) * (n_words.cast("double") / n_sent.cast("double"))
        + F.lit(11.8) * (n_syl.cast("double") / n_words.cast("double"))
        - F.lit(15.59), 4)
    return {"n_words": F.size(toks), "n_sentences": n_sent,
            "n_syllables": n_syl, "fk_grade": grade}


def readability_sql(text_expr: str) -> dict:
    """DuckDB mirrors of :func:`readability_cols` (same names)."""
    toks = (f"list_filter(regexp_split_to_array(trim(lower({text_expr})), "
            f"'\\s+'), t -> t <> '')")
    n_words = f"greatest(len({toks}), 1)"
    n_sent = (f"greatest(len(regexp_extract_all({text_expr}, "
              f"'[.!?]+')), 1)")
    syl = (f"list_sum(list_transform({toks}, t -> greatest("
           f"len(regexp_extract_all(t, '[aeiouy]+')), 1)))")
    n_syl = f"greatest(coalesce({syl}, 0), 1)"
    grade = (f"round(0.39 * (cast({n_words} AS DOUBLE) / "
             f"cast({n_sent} AS DOUBLE)) + 11.8 * "
             f"(cast({n_syl} AS DOUBLE) / cast({n_words} AS DOUBLE)) "
             f"- 15.59, 4)")
    return {"n_words": f"len({toks})", "n_sentences": n_sent,
            "n_syllables": n_syl, "fk_grade": grade}


# --------------------------------------------------------- sentences

# Sentence boundary = a run of terminal punctuation followed by
# whitespace.  RE2 has no lookbehind, so the terminator is consumed by
# the split and each sentence is emitted WITHOUT terminal punctuation
# (the trailing run before end-of-string is stripped explicitly) — one
# contract both engines implement verbatim.
_SENT_SPLIT_RE = r"[.!?]+[ \t\n\r\f]+"


def sentences_col(text: Column) -> Column:
    """``array<string>`` of sentences: split on punctuation+whitespace,
    trim, strip the trailing terminator run, drop empties."""
    parts = F.split(text, _SENT_SPLIT_RE)
    clean = F.transform(
        parts, lambda s: F.trim(F.regexp_replace(s, r"[.!?]+$", "")))
    return F.filter(clean, lambda s: s != "")


def sentences_sql(text_expr: str) -> str:
    """DuckDB mirror of :func:`sentences_col`."""
    return (f"list_filter(list_transform(regexp_split_to_array("
            f"{text_expr}, '{_SENT_SPLIT_RE}'), "
            f"s -> trim(regexp_replace(s, '[.!?]+$', ''))), "
            f"s -> s <> '')")


def lead_sentences_col(text: Column, k: int = 3) -> Column:
    """Lead-``k`` extractive summary: the first ``k`` sentences joined
    with '. ' and re-terminated — the classic lead-3 news baseline
    (See et al. 2017 use it as the summarization floor)."""
    head = F.slice(sentences_col(text), 1, k)
    return F.when(F.size(head) > 0,
                  F.concat(F.array_join(head, ". "), F.lit("."))) \
            .otherwise(F.lit(""))


def lead_sentences_sql(text_expr: str, k: int = 3) -> str:
    """DuckDB mirror of :func:`lead_sentences_col`.  NB DuckDB
    ``array_to_string([])`` is NULL (Spark's is '') — coalesced."""
    head = f"({sentences_sql(text_expr)})[1:{k}]"
    return (f"(CASE WHEN len({head}) > 0 THEN "
            f"coalesce(array_to_string({head}, '. '), '') || '.' "
            f"ELSE '' END)")


# --------------------------------------------------------- mojibake

# Classic UTF-8-read-as-Latin-1/cp1252 residue bigrams/trigrams, ordered
# longest-first so the leftmost-first alternation (Java and RE2 agree)
# counts each residue once: curly quotes/dashes decode to "â€¦", Latin-1
# accents to "Ã?", NBSP/feminine-ordinal to "Â?".
_MOJIBAKE_MARKERS = [
    "â€™",  # â€™  (U+2019 right quote)
    "â€œ",  # â€œ  (U+201C left double quote)
    "â€“",  # â€“  (U+2013 en dash)
    "â€",        # â€   (any other U+20xx residue)
    "Ã©",        # Ã©  (é)
    "Ã¨",        # Ã¨  (è)
    "Ã¼",        # Ã¼  (ü)
    "Ã¶",        # Ã¶  (ö)
    "Ã±",        # Ã±  (ñ)
    "Ã§",        # Ã§  (ç)
    "Â ",        # Â + NBSP (doubled NBSP encode)
    "Â«",        # Â«
    "Â»",        # Â»
]
_MOJIBAKE_RE = "(" + "|".join(_MOJIBAKE_MARKERS) + ")"
# C0 controls except \t \n \r: never legitimate in web text
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
_REPL_CHAR = "�"


def mojibake_cols(text: Column) -> dict:
    """Encoding-damage profile of a document: ``repl_chars`` (U+FFFD
    count — a decoder already gave up), ``mojibake_seqs`` (double-
    encoding residue matches), ``ctrl_chars`` (C0 controls), and the
    ``is_mojibake`` flag.  Pure codegen regexp counts — the corpus
    hygiene gate every web-scale text pipeline runs before training."""
    repl = F.regexp_count(text, F.lit(_REPL_CHAR))
    seqs = F.regexp_count(text, F.lit(_MOJIBAKE_RE))
    ctrl = F.regexp_count(text, F.lit(_CTRL_RE))
    return {"repl_chars": repl, "mojibake_seqs": seqs,
            "ctrl_chars": ctrl,
            "is_mojibake": ((repl + seqs + ctrl) > 0).cast("int")}


def mojibake_sql(text_expr: str) -> dict:
    """DuckDB mirrors of :func:`mojibake_cols` (same names)."""
    repl = f"len(regexp_extract_all({text_expr}, chr(65533)))"
    seqs = f"len(regexp_extract_all({text_expr}, '{_MOJIBAKE_RE}'))"
    ctrl = f"len(regexp_extract_all({text_expr}, '{_CTRL_RE}'))"
    return {"repl_chars": repl, "mojibake_seqs": seqs,
            "ctrl_chars": ctrl,
            "is_mojibake": (f"cast(({repl} + {seqs} + {ctrl}) > 0 "
                            f"AS INTEGER)")}
