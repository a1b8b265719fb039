"""Text-analysis column expressions for large-scale corpus pipelines.

All pure built-in Column expressions (JVM-side, codegen) — no Python
UDFs in the hot path. Designed for the `documents` table shape
(doc_id, text, lang, source, n_chars) but generic over any string col.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------------ tokenizing

#: BPE-ish word/num/punct splitter: runs of letters, runs of digits, or a
#: single non-space symbol — approximates subword pre-tokenization.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    """Number of whitespace-separated tokens."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    # long, not int: DuckDB counts are BIGINT, and the oracle compare is
    # representation-sensitive (int32 vs int64 collected via Arrow)
    return (
        F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    ).cast("long")


def regex_token_count(col: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """BPE-ish token count via regexp_count (Spark 3.5+)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(pattern))


# -------------------------------------------------------------- quality score

def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]")).cast("double") / n
    )


def mean_word_len(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    nw = whitespace_token_count(c)
    # chars excluding whitespace / word count
    nc = F.length(F.regexp_replace(c, r"\s+", ""))
    return F.when(nw == 0, F.lit(0.0)).otherwise(nc.cast("double") / nw)


#: Tiny language-marker stopword lists (public-knowledge function words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def stopword_hits(col: Column | str, words: list[str]) -> Column:
    """Total occurrences of any marker word (word-bounded) in the text.

    Uses the portable length-difference trick on a padded lowercase copy,
    so the identical formula can be expressed in ANSI SQL for the oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    total = F.lit(0)
    for w in words:
        needle = f" {w} "
        # each removal shortens the string by len(needle); overlapping
        # occurrences (shared spaces) under-count identically in any
        # engine using the same formula → oracle-stable.
        hits = (
            F.length(padded) - F.length(F.regexp_replace(padded, f" {w} ", " "))
        ) / len(f"{w} ")
        total = total + hits
    return total.cast("long")


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic: favors mid-length docs with
    normal word lengths and low symbol noise. Deterministic, SQL-portable.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_score = F.least(n.cast("double") / F.lit(200.0), F.lit(1.0))
    noise_penalty = F.least(punct_ratio(c) * 2.0, F.lit(1.0))
    wl = mean_word_len(c)
    wl_score = F.when((wl >= 3.0) & (wl <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    raw = len_score * 0.5 + wl_score * 0.3 + (1.0 - noise_penalty) * 0.2
    # floor-quantize (not ROUND): bit-identical across engines for oracles
    return F.floor(raw * 1e6 + F.lit(0.5)) / F.lit(1e6)


# ------------------------------------------------------------- fingerprinting

def normalized_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercase text. md5 (not xxhash/murmur) so DuckDB oracles reproduce it.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(norm)


def shingles_from_words(words: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-split array<string> column.

    element_at per position (NOT slice — slice copies a k-array per
    index) keeps this O(words × k) element reads. Callers should project
    the split into its own column first so it is evaluated once per row;
    `shingles()` below does that binding automatically.
    """
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    # short docs → one whole-text shingle (concat_ws joins the array)
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j) for j in range(1, k + 1)]
            ),
        )
    )


def split_words(col: Column | str) -> Column:
    """Lowercased whitespace word split — the shingle alphabet."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-shingles as an array<string> — input to MinHash/Jaccard.

    The split is bound as a higher-order-function lambda variable
    (transform over a single-element array), which guarantees it is
    evaluated ONCE per row even when the optimizer inlines this whole
    expression into a collapsed projection — the naive form re-ran
    split() for every shingle index, O(words²) per document.
    """
    return F.element_at(
        F.transform(
            F.array(split_words(col)), lambda words: shingles_from_words(words, k)
        ),
        1,
    )


# ------------------------------------------------------------ normalization

#: simple, engine-portable patterns (POSIX classes only — identical
#: semantics in Spark's Java regex and DuckDB's RE2)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


def normalize_text(col: Column | str) -> Column:
    """Pretraining text cleanup: lowercase, strip URLs, collapse runs of
    whitespace, trim. Pure JVM expressions — runs inside whole-stage
    codegen, no UDF; at 100 TB this is a narrow map over the scan."""
    c = F.col(col) if isinstance(col, str) else col
    no_url = F.regexp_replace(F.lower(c), URL_RE, " ")
    return F.trim(F.regexp_replace(no_url, r"\s+", " "))


def mask_pii(
    col: Column | str,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> Column:
    """Mask emails and phone-like digit runs with placeholder tokens —
    the standard pre-release scrub pass for web-crawl corpora. Pattern
    set is deliberately conservative (no lookarounds) so the same regex
    runs identically JVM-side and in any RE2-based oracle engine."""
    c = F.col(col) if isinstance(col, str) else col
    masked = F.regexp_replace(c, EMAIL_RE, email_token)
    return F.regexp_replace(masked, PHONE_RE, phone_token)


def repetition_ratio(col: Column | str, k: int = 3) -> Column:
    """Gopher-style repeated-k-gram fraction: 1 - distinct/total word
    k-shingles. High values flag boilerplate / TV-static documents that
    quality filters drop before pretraining. Pure array expressions over
    the one-pass shingle builder — whole-stage codegen, no shuffle, no
    UDF; at corpus scale this is a narrow map over the scan."""
    sh = shingles(col, k)
    return F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh)


# ------------------------------------------------------------- winnowing


def char_gram_hashes(
    col: Column | str, k: int = 8, family: str = "xxhash64"
) -> Column:
    """array<bigint> of hashes of every char k-gram, two families with
    the MinHash tier's split (operators/dedup.py): `xxhash64` is the
    production path (engine-native, no hex round-trip); `md5_prefix`
    (first 15 hex chars of md5 as BIGINT) is the oracle twin DuckDB
    reproduces bit-for-bit. Same selected positions either way — the
    winnowing mechanism downstream never looks inside the hash.

    PERFORMANCE (r9): string substr by CHAR offset scans from byte 0
    (UTF-8 has no O(1) char index), so a naive position walk is O(n²)
    per document. For ASCII rows (char length == octet length) the
    grams slice the UTF-8 BYTES instead — byte indexing is O(1) and
    the cast back to string restores the identical gram, so both hash
    families see byte-identical input. Non-ASCII rows keep the exact
    char path. The text, its encoding, and the ascii flag bind as
    lambda variables through the single-element-struct transform (the
    `shingles()` idiom) — captured expressions would otherwise
    re-evaluate per element, reintroducing the O(n²)."""
    c = F.col(col) if isinstance(col, str) else col
    if family == "xxhash64":
        hash_one = F.xxhash64
    elif family == "md5_prefix":
        def hash_one(g: Column) -> Column:
            return F.conv(F.md5(g).substr(1, 15), 16, 10).cast("bigint")
    else:
        raise ValueError(f"unknown hash family: {family!r}")

    def walk(s: Column) -> Column:
        t, b, is_ascii = s["t"], s["b"], s["a"]
        idx = F.sequence(
            F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))
        )
        return F.transform(
            idx,
            lambda i: hash_one(
                F.when(
                    is_ascii, b.substr(i, F.lit(k)).cast("string")
                ).otherwise(t.substr(i, F.lit(k)))
            ),
        )

    bound = F.transform(
        F.array(
            F.struct(
                c.alias("t"),
                F.encode(c, "UTF-8").alias("b"),
                (F.length(c) == F.octet_length(c)).alias("a"),
            )
        ),
        walk,
    )
    return F.element_at(bound, 1)


def winnow_mins(grams: Column, window: int = 6) -> Column:
    """Winnowing fingerprint values (Schleimer et al., SIGMOD 2003):
    min hash of each sliding window of `window` consecutive gram
    hashes, distinct. Guarantees any shared substring of length
    ≥ k + window - 1 contributes a shared fingerprint. Pure array
    expressions — per-row O(len·window), codegen, no shuffle."""
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(grams) - (window - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(grams, j, window)),
    )
    return F.array_distinct(mins)


#: host part of a URL: scheme '//' then everything up to /, :, ?, # or space
DOMAIN_RE = r"https?://([^/:?#\s]+)"


def extract_domains(col: Column | str) -> Column:
    """All URL hosts in the text, lowercased, as an array — the CCNet/
    RefinedWeb URL-filtering primitive (per-domain corpus stats and
    blocklist gates start from exactly this extraction). Pure Column
    expression: regexp_extract_all keeps group 1 of DOMAIN_RE; DuckDB's
    regexp_extract_all(text, ..., 1) is the literal twin."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.regexp_extract_all(c, F.lit(DOMAIN_RE), 1), F.lower
    )


def registered_domain(host: Column) -> Column:
    """Last two labels of a hostname ('cdn.assets.example.com' →
    'example.com') — the blocklist grain. A public-suffix list would
    refine multi-label TLDs; two labels is the deterministic,
    dependency-free baseline and is stated as such."""
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)

