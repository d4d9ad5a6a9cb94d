"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language-ID heuristics, fingerprinting.

All pure Column expressions (JVM-side, codegen'd) — at 100 TB these run
inside the parquet scan stage with zero shuffles; only the final
aggregations shuffle (by lang/source — low cardinality, map-side combined).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens, empty strings removed (split keeps trailing
    empties with limit=-1; filter restores pandas .split() semantics)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


def word_shingles_expr(tokens: Column, k: int) -> Column:
    """k-word shingles joined by single spaces; < k tokens → empty array.
    The guard matters: sequence(1, n-k+1) with n < k would generate a
    DESCENDING sequence in Spark."""
    n = F.size(tokens)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hit_count_expr(tokens: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens present in a small keyword set."""
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


#: keyword profiles for the n-gram/keyword language-ID heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "es": ("data", "row"),
    "fr": ("join", "merge"),
}


def langid_expr(tokens: Column, profiles: dict[str, tuple[str, ...]] = LANG_PROFILES) -> Column:
    """Predicted language = profile with max keyword hits; ties broken by
    lexicographically smallest tag (deterministic)."""
    pairs = [
        F.struct(hit_count_expr(tokens, words).alias("hits"), F.lit(tag).alias("tag"))
        for tag, words in sorted(profiles.items())
    ]
    # max over (hits, reversed-tag) would prefer larger tag; instead sort
    # structs by (hits desc, tag asc) via array_sort comparator-free trick:
    # max of (hits, negated tag) is awkward — use aggregate with explicit
    # comparison instead.
    arr = F.array(*pairs)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("").alias("tag")),
        lambda acc, x: F.when(
            (x["hits"] > acc["hits"]), x
        ).otherwise(acc),
    )
    return best["tag"]


#: stopwords whose share feeds ``quality_score_expr``
_QUALITY_STOPWORDS = ("the", "a", "of", "and")


def quality_score_expr(text: Column, tokens: Column) -> Column:
    """Composite quality score from length / punctuation / stopword ratios
    (the reference-style heuristic battery, fixed weights)."""
    n_chars = F.length(text)
    n_tokens = F.size(tokens)
    punct = F.length(F.regexp_replace(text, "[A-Za-z0-9 ]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0, hit_count_expr(tokens, _QUALITY_STOPWORDS) / n_tokens
    ).otherwise(F.lit(0.0))
    len_score = F.least(F.lit(1.0), n_tokens / F.lit(100.0))
    return (
        F.lit(0.4) * len_score + F.lit(0.3) * (F.lit(1.0) - punct_ratio) + F.lit(0.3) * stop_ratio
    )


def fingerprint_expr(tokens: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct token
    set — the classic 'fingerprint clustering' normalization (case/order/
    duplication-insensitive)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens))))


def token_count_bpe_ish_expr(text: Column | str) -> Column:
    """BPE-ish token count: word pieces + digits + punctuation as separate
    tokens (a cheap proxy for LLM tokenizers on ASCII text)."""
    col = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(col, r"[^A-Za-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    # count sub-word chunks of ≤4 chars: ceil(len/4) per piece
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("int"),
    )


#: PII patterns, RE2-safe (no backrefs/lookaround) so Spark's Java regex
#: and DuckDB's RE2 match identically. Ordered: redaction applies them in
#: this sequence (email first — its local part may contain digits that
#: would otherwise partially match the looser patterns).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_count_exprs(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (pure Column, runs in the scan stage)."""
    col = F.col(text) if isinstance(text, str) else text
    return {kind: F.regexp_count(col, F.lit(pat)) for kind, pat in PII_PATTERNS}


def redact_pii_expr(text: Column | str) -> Column:
    """Replace every PII match with ``<PII>``, kinds applied in the fixed
    ``PII_PATTERNS`` order — the redaction pass an LLM corpus runs before
    training. Chained ``regexp_replace`` (replace-all in Spark; the
    DuckDB twin needs the 'g' flag)."""
    col = F.col(text) if isinstance(text, str) else text
    for _, pat in PII_PATTERNS:
        col = F.regexp_replace(col, pat, "<PII>")
    return col


def token_chunks_expr(tokens: Column, chunk_len: int = 8) -> Column:
    """Consecutive fixed-length token chunks (tail partial chunk dropped),
    each rendered back to a string — the unit for CCNet-style cross-
    document boilerplate/line dedup when the corpus has no natural line
    structure. Pure array expressions; chunking happens in the scan
    stage, so the only shuffle in a boilerplate pass is the chunk-hash
    aggregation itself."""
    n = F.floor(F.size(tokens) / F.lit(chunk_len)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i * chunk_len + 1, chunk_len)),
    )
    return F.when(n > 0, chunks).otherwise(F.array().cast("array<string>"))


def overlap_char_chunks_expr(
    text: Column | str, size: int = 256, overlap: int = 64
) -> Column:
    """RAG-style overlapping character chunks: windows of ``size`` chars
    every ``size - overlap`` chars (final partial window kept). Pure
    array expression — ``substring`` over a stride sequence, fully
    codegen, one row explodes to ceil((len-overlap)/stride) chunks.
    Chunking for retrieval indexes / context-window packing; pair with
    ``token_chunks_expr`` for token-boundary variants."""
    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    col = F.col(text) if isinstance(text, str) else text
    stride = size - overlap
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.length(col) - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: col.substr(i * F.lit(stride) + F.lit(1), F.lit(size)),
    )
