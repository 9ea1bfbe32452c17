"""Text expression helpers (SURVEY §2.4, §2.9).

Tokenization / stopwords / Jaccard semantics from
/root/reference/src/retrieval/HybridRetriever.js:366-418 and
/root/reference/src/learning/RecursiveLearningEngine.js:772-800.
All native Spark SQL functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 46-word stopword list, verbatim from HybridRetriever.js:409-418.
STOPWORDS = [
    "the", "is", "at", "which", "on", "a", "an", "and", "or", "but",
    "in", "with", "to", "for", "of", "not", "no", "can", "had", "has",
    "have", "this", "that", "was", "are", "were", "been", "be", "do",
    "does", "did", "will", "would", "could", "should", "may", "might",
    "what", "how", "when", "where", "who", "why",
]


def tokenize(text: Column | str) -> Column:
    """lowercase, split on whitespace, drop empties
    (HybridRetriever.js:366-367)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0)


def search_terms(text: Column | str) -> Column:
    """K1: tokens with len > 2 and not stopwords (HybridRetriever.js:366-368)."""
    toks = tokenize(text)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.filter(toks, lambda t: (F.length(t) > 2) & ~F.array_contains(stop, t))


def jaccard(a: Column, b: Column) -> Column:
    """K4: |A∩B| / |A∪B| over word sets (RecursiveLearningEngine.js:795-799);
    0 when the union is empty.

    Inputs MUST be distinct arrays (every caller builds them via
    array_distinct) — that lets the union size be computed as
    |A|+|B|-|A∩B|, halving the per-pair array work in self-joins."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def token_estimate(text: Column | str) -> Column:
    """X6: ceil(len/4) token estimate (RAGPipeline.js:221)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.ceil(F.length(text) / 4).cast("long")


def tf_saturation(count: Column) -> Column:
    """K2: BM25-ish TF saturation count*2.2/(count+1.2)
    (HybridRetriever.js:384-386)."""
    c = count.cast("double")
    return c * 2.2 / (c + 1.2)


def term_count(text: Column | str, term: Column | str) -> Column:
    """Non-overlapping occurrence count of `term` in lower(text) — matches the
    reference's JS regex global match (HybridRetriever.js:383)."""
    text = F.col(text) if isinstance(text, str) else text
    term_c = F.lit(term) if isinstance(term, str) else term
    return F.size(F.regexp_extract_all(F.lower(text), term_c, F.lit(0)))

