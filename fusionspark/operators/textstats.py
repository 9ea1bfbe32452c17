"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Not in the reference (north-star additions, BASELINE.json).  All pure
column expressions — no UDFs, fully codegen'd, trivially 100 TB-scalable
(embarrassingly parallel per row; zero shuffles).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from fusionspark.functions.text import STOPWORDS, tokenize
from fusionspark.operators.dedup import md5_hash32

#: Tiny marker-word sets per language for the n-gram-free heuristic.
#: (The driver's synthetic text is English-vocabulary salad; the heuristic
#: is deterministic regardless of the stored `lang` column.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "with", "for", "data"],
    "de": ["der", "und", "mit", "für", "daten"],
    "fr": ["le", "et", "avec", "pour", "les"],
    "es": ["el", "y", "con", "para", "los"],
    "zh": ["的", "和", "与", "数据", "查询"],
}

#: BPE-ish token regex: letter runs, digit runs, single non-space symbols.
BPE_ISH = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def marker_score(text: Column, markers: list[str]) -> Column:
    """Count of marker-word hits among tokens."""
    toks = tokenize(text)
    marr = F.array(*[F.lit(m) for m in markers])
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(F.array_contains(marr, t), 1).otherwise(0),
    )


LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker hits; ties resolved by the
    fixed preference order LANG_ORDER; no hits → 'unknown'.  Expressed as
    greatest(...) + first-match CASE so the DuckDB oracle is a literal
    transliteration."""
    text = F.col(text) if isinstance(text, str) else text
    scores = {lang: marker_score(text, LANG_MARKERS[lang]) for lang in LANG_ORDER}
    m = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("unknown")
    for lang in reversed(LANG_ORDER):
        expr = F.when((m > 0) & (scores[lang] == m), F.lit(lang)).otherwise(expr)
    return expr


def round6_stable(col: Column) -> Column:
    """6-decimal half-up rounding as PURE IEEE double ops:
    FLOOR(x*1e6 + 0.5)/1e6 — bit-identical in Spark and DuckDB by
    construction (write the same expression in the oracle SQL).

    Why not ROUND(x, 6): Spark's round converts the double through its
    SHORTEST decimal string (BigDecimal.valueOf) and HALF_UP-rounds
    that, while DuckDB rounds the BINARY value — on a double whose
    shortest repr is an exact 7-decimal halfway (e.g. 0.5040625), Spark
    says ...63 and DuckDB says ...62 for the IDENTICAL bits (the r13
    strict-gate find on text_quality at sf0.1).  The floor form reads
    only the binary value, so identical inputs give identical outputs.
    Nonnegative inputs only (floor(x+1/2) is half-UP, not half-away)."""
    return F.floor(col * 1000000.0 + 0.5) / 1000000.0


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0,1]:
    0.5·min(1, n_tokens/50) + 0.3·stopword-ratio·2 (capped 1) + 0.2·alpha-ratio."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    n_tokens = F.size(toks)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(0.0)
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    alpha_ratio = F.when(F.length(text) > 0, alpha / F.length(text)).otherwise(0.0)
    return (
        F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * 0.5
        + F.least(F.lit(1.0), stop_ratio * 2) * 0.3
        + alpha_ratio * 0.2
    )


def token_counts(text: Column | str) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count)."""
    text = F.col(text) if isinstance(text, str) else text
    ws = F.size(tokenize(text))
    bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), F.lit(0)))
    return ws, bpe


def fingerprint(text: Column | str, gram: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over all char n-grams.
    Portable (md5 everywhere), robust to single-char edits outside the
    minimizing window.  Column-expression form; prefer fingerprint_docs in
    plans (the nested transform here is CodegenFallback-interpreted)."""
    text = F.col(text) if isinstance(text, str) else text
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (gram - 1), F.lit(1))),
        lambda i: F.substring(text, i, gram),
    )
    return F.array_min(F.transform(grams, F.md5))


def fingerprint_docs(
    df, id_col: str = "doc_id", text_col: str = "text", gram: int = 8
):
    """(id, fp) via one Arrow-batched map — identical md5-hex min values as
    the expression form (lowercase hex compares bytewise the same in
    Python, Spark, and DuckDB), without the interpreted nested-transform.
    Per-document and shuffle-free like the MinHash signatures."""
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType([df.schema[id_col], StructField("fp", StringType())])

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            fps = []
            for text in pdf[text_col]:
                t = text or ""
                m = max(len(t) - (gram - 1), 1)
                fps.append(
                    min(
                        hashlib.md5(t[i : i + gram].encode("utf-8")).hexdigest()
                        for i in range(m)
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col], "fp": fps})

    from fusionspark.io import spread

    # r15: per-char md5 rolling min is the heavy map - io.spread
    return spread(df.select(id_col, text_col)).mapInPandas(run, schema=out_schema)


# ── Gopher / C4 corpus-quality filters ────────────────────────────────────

#: Gopher's canonical stop-word probe (Rae et al. 2021, appendix A1.1):
#: a document must contain ≥ 2 distinct words from this set.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_metrics(text: Column | str) -> dict[str, Column]:
    """Per-document Gopher quality-rule inputs (Rae et al. 2021 §A1.1),
    as pure column expressions (codegen'd, zero shuffle, 100 TB-safe):

    * n_words, mean_word_len — bounds 50 ≤ n ≤ 100 000, 3 ≤ mean ≤ 10
    * symbol_ratio — ('#' + '...') occurrences per word, ≤ 0.1
    * alpha_word_ratio — fraction of words with ≥ 1 alphabetic char, ≥ 0.8
    * n_stop_hits — distinct GOPHER_STOPS present, ≥ 2
    * bullet_line_frac — lines starting with a bullet ('-', '*', '•'), ≤ 0.9
    * ellipsis_line_frac — lines ending with '...', ≤ 0.3

    The line rules are identically zero on single-line corpora (split
    yields one line) and bite on real multi-line documents — attested on a
    synthetic multi-line corpus by the `gopher_lines` query."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    n_words = F.size(toks)
    char_sum = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.when(
        n_words > 0, char_sum.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_word_ratio = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    n_stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stops))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•] ")))
    n_ell_end = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_line_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_line_frac = F.when(
        n_lines > 0, n_ell_end.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    passes = (
        n_words.between(50, 100_000)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (alpha_word_ratio >= 0.8)
        & (n_stop_hits >= 2)
        & (bullet_line_frac <= 0.9)
        & (ellipsis_line_frac <= 0.3)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "alpha_word_ratio": alpha_word_ratio,
        "n_stop_hits": n_stop_hits,
        "bullet_line_frac": bullet_line_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "passes": passes.cast("int"),
    }


def c4_metrics(text: Column | str) -> dict[str, Column]:
    """Per-document C4 cleaning-rule inputs (Raffel et al. 2020 §2.2):
    sentence count (terminal-punctuation splits) ≥ 3, no '{' (code), no
    'lorem ipsum'.  Expression-only like gopher_metrics; the per-LINE
    terminal-punctuation rule needs line structure the driver corpus
    lacks (single-line docs) and lands with it."""
    text = F.col(text) if isinstance(text, str) else text
    n_sentences = F.size(F.regexp_extract_all(text, F.lit("[.!?]"), F.lit(0)))
    has_brace = F.contains(text, F.lit("{")).cast("int")
    has_lorem = F.contains(F.lower(text), F.lit("lorem ipsum")).cast("int")
    passes = (n_sentences >= 3) & (has_brace == 0) & (has_lorem == 0)
    return {
        "n_sentences": n_sentences,
        "has_brace": has_brace,
        "has_lorem": has_lorem,
        "passes": passes.cast("int"),
    }


# ── PII redaction ─────────────────────────────────────────────────────────

#: portable between Java regex (Spark) and RE2 (DuckDB): no lookarounds,
#: no backrefs — \b, \d, {m,n} mean the same in both
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def pii_redact(text: Column | str) -> dict[str, Column]:
    """Mask emails and IPv4 addresses, counting what was masked — the
    standard pre-training scrub pass.  One regexp_replace chain per row:
    codegen'd, shuffle-free, linear in corpus size."""
    text = F.col(text) if isinstance(text, str) else text
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return {"n_emails": n_emails, "n_ips": n_ips, "redacted": redacted}


def repetition_stats_docs(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Per-document word-2-gram repetition inputs (Gopher 'repetitious
    content'): total/unique 2-gram counts, the most-frequent-2-gram count,
    and the top/duplicate fractions.

    The statistic is strictly per-document, so it is ONE Arrow-batched map
    — zero shuffle.  (The equivalent explode → groupBy(doc, gram) →
    groupBy(doc) plan shuffles every 2-gram occurrence in the corpus twice
    to compute a per-row number: ~2× corpus word count rows of exchange at
    100 TB for nothing.)  Counting replays tokenize + word_shingles(n=2)
    bit-exactly (_py_shingles), so the DuckDB oracle is unchanged."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fusionspark.operators.dedup import _py_shingles

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("n_grams", LongType()),
            StructField("n_unique", LongType()),
            StructField("top_count", LongType()),
            StructField("top_frac", DoubleType()),
            StructField("dup_frac", DoubleType()),
        ]
    )

    def stats(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in
                    (id_col, "n_grams", "n_unique", "top_count",
                     "top_frac", "dup_frac")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                c = Counter(_py_shingles(text, 2))
                total = sum(c.values())
                uniq = len(c)
                top = max(c.values())
                rows[id_col].append(did)
                rows["n_grams"].append(total)
                rows["n_unique"].append(uniq)
                rows["top_count"].append(top)
                rows["top_frac"].append(round(top / total, 6))
                rows["dup_frac"].append(round(1.0 - uniq / total, 6))
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(stats, schema=out_schema)


# ── trainable quality classifier (Naive Bayes, CCNet-style) ───────────────


def nb_quality_scores(
    df,
    pos,
    neg,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Trainable quality classifier, the CCNet / LLaMA-pipeline step the
    rule-based `quality_score` can't do: train multinomial Naive Bayes on
    in-corpus labels (`pos` / `neg` boolean Columns select the "curated"
    and "crawl" strata — Wikipedia-vs-CommonCrawl in production), then
    score EVERY document by the add-one-smoothed log-likelihood ratio

        score(d) = ln(N_pos/N_neg)
                 + Σ_w [ ln(n_pos(w)+1) − ln(T_pos+V)
                       − ln(n_neg(w)+1) + ln(T_neg+V) ]

    (unseen words get the smoothed default ln((T_neg+V)/(T_pos+V))).
    Training is two hash aggregations (token counts per class, then the
    scalar totals); scoring is one equi-join of the token stream against
    the vocabulary-sized weight table, which BROADCASTS — at 100 TB the
    weight table is O(vocab), not O(corpus), so the corpus never
    reshuffles.  Everything is log-space column arithmetic — no UDFs.

    Returns (id, n_tokens, nb_score, quality_pred)."""
    from pyspark.sql import DataFrame

    # r15 note: an io.spread was tried on this explode and REVERTED -
    # in-suite (warm JVM) the exchange cost exceeded the codegen'd map it
    # parallelized (nb_quality 0.76->1.27s, pr_auc/roc_auc +~70% while
    # their suite neighbors held 1.0x); spread pays only for heavy Python
    # kernels, not cheap JVM token explodes.
    words = df.select(
        F.col(id_col),
        pos.cast("int").alias("is_pos"),
        neg.cast("int").alias("is_neg"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).filter(F.col("w") != "")

    train = words.filter((F.col("is_pos") == 1) | (F.col("is_neg") == 1))
    counts = train.groupBy("w").agg(
        F.sum("is_pos").alias("n_pos"), F.sum("is_neg").alias("n_neg")
    )
    totals = counts.agg(
        F.sum("n_pos").alias("t_pos"),
        F.sum("n_neg").alias("t_neg"),
        F.count("*").alias("v"),
    )
    doc_prior = df.agg(
        F.log(
            F.sum(pos.cast("int")).cast("double")
            / F.sum(neg.cast("int")).cast("double")
        ).alias("prior")
    )

    weights = counts.crossJoin(F.broadcast(totals)).select(
        "w",
        (
            F.log(F.col("n_pos") + 1)
            - F.log(F.col("t_pos") + F.col("v"))
            - F.log(F.col("n_neg") + 1)
            + F.log(F.col("t_neg") + F.col("v"))
        ).alias("weight"),
    )
    default_w = (
        F.log(F.col("t_neg") + F.col("v")) - F.log(F.col("t_pos") + F.col("v"))
    ).alias("default_weight")

    scored = (
        words.join(F.broadcast(weights), "w", "left")
        .crossJoin(F.broadcast(totals.select(default_w)))
        .crossJoin(F.broadcast(doc_prior))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (
                F.first("prior")
                + F.sum(F.coalesce(F.col("weight"), F.col("default_weight")))
            ).alias("raw_score"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        F.round("raw_score", 6).alias("nb_score"),
        (F.col("raw_score") > 0).cast("int").alias("quality_pred"),
    )


def lm_perplexity_scores(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 1.0,
):
    """Bigram language-model quality signal — the CCNet-style perplexity
    filter (Wenzek et al. 2020 train a 5-gram KenLM on Wikipedia and drop
    high-perplexity crawl text; the bigram form keeps the same plan shape
    at a fraction of the model size):

        logprob(w_i | w_{i-1}) = ln( (c(w_{i-1} w_i) + k) / (c(w_{i-1}) + k·V) )
        doc score = mean over the doc's bigrams;  perplexity = exp(−mean)

    Train = two hash aggregations over the corpus (bigram counts, unigram
    counts); V = distinct unigrams.  Score = the document's bigram stream
    joined against the O(model) count tables, which BROADCAST — the corpus
    never reshuffles, the same scale contract as nb_quality_scores.
    Returns (id, n_bigrams, avg_logprob, perplexity); single-token docs
    score NULL-free with n_bigrams = 0 and perplexity 1 (vacuous mean 0)."""
    # r15 note: io.spread tried and REVERTED (in-suite regression; see
    # nb_quality_scores)
    words = df.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("ws"),
    ).select(
        id_col,
        F.filter("ws", lambda w: w != "").alias("ws"),
    )
    bigrams = words.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    v = uni_counts.agg(F.count("*").alias("v"))

    scored = (
        bigrams.join(F.broadcast(bg_counts), ["w1", "w2"], "left")
        .join(
            F.broadcast(uni_counts.withColumnRenamed("w", "w1")), "w1", "left"
        )
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            (
                F.log(F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
                - F.log(
                    F.coalesce(F.col("c1"), F.lit(0))
                    + F.lit(add_k) * F.col("v")
                )
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("lp").alias("sum_lp"),
    )
    # docs with < 2 tokens have no bigrams — rejoin so they keep a row
    all_ids = words.select(id_col)
    return (
        all_ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                F.coalesce(F.col("sum_lp") / F.col("n_bigrams"), F.lit(0.0)), 6
            ).alias("avg_logprob"),
            F.round(
                F.exp(-F.coalesce(F.col("sum_lp") / F.col("n_bigrams"), F.lit(0.0))),
                6,
            ).alias("perplexity"),
        )
    )


# ── unicode normalization / text cleanup (ftfy-lite) ──────────────────────

# Removal class: C0 controls (minus \t\n\r), DEL, zero-width chars.  The
# Python pattern below and the RE2/Java pattern the oracle/expression side
# uses ([\x01-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]) denote
# the same set — Python re spells non-BMP-escape chars \uXXXX, RE2 \x{...}.
_CTRL_ZW_RE = re.compile("[\x01-\x08\x0b\x0c\x0e-\x1f\x7f​‌‍﻿]")
_MULTISPACE_RE = re.compile(" {2,}")


def py_unicode_clean(s: str) -> str:
    """The exact cleanup law `unicode_clean_docs` applies per document:
    NFC-compose, drop control/zero-width chars, NBSP→space, collapse
    space runs, trim spaces.  Kept standalone so tests and the DuckDB
    oracle (nfc_normalize + regexp_replace chain) replay it step-for-step."""
    import unicodedata

    s = unicodedata.normalize("NFC", s)
    s = _CTRL_ZW_RE.sub("", s)
    s = s.replace(" ", " ")
    s = _MULTISPACE_RE.sub(" ", s)
    return s.strip(" ")


def unicode_clean_docs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Unicode hygiene pass a crawl corpus runs before anything else:
    NFC normalization (REAL `unicodedata`, cross-validated against DuckDB's
    independent `nfc_normalize` implementation), control/zero-width strip,
    NBSP fix, whitespace collapse.  Strictly per-document → ONE Arrow map,
    zero shuffle; at 100 TB this is a pure scan-transform stage."""
    import pandas as pd
    from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

    out_schema = StructType([
        df.schema[id_col],
        StructField("clean_text", StringType()),
        StructField("n_before", LongType()),
        StructField("n_after", LongType()),
        StructField("changed", BooleanType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (id_col, "clean_text", "n_before", "n_after", "changed")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                clean = py_unicode_clean(text)
                rows[id_col].append(did)
                rows["clean_text"].append(clean)
                rows["n_before"].append(len(text))
                rows["n_after"].append(len(clean))
                rows["changed"].append(clean != text)
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def char_entropy_docs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Character-level Shannon entropy + distinct-char count per document —
    the classic gibberish/binary-spill detector (low entropy = repeated
    filler, high = random bytes).  Per-document statistic → ONE Arrow map,
    zero shuffle (the explode→groupBy(doc, char) equivalent would shuffle
    every character occurrence in the corpus)."""
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType([
        df.schema[id_col],
        StructField("n_chars", LongType()),
        StructField("distinct_chars", LongType()),
        StructField("char_entropy", DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (id_col, "n_chars", "distinct_chars", "char_entropy")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                c = Counter(text)
                n = len(text)
                if n:
                    p = np.asarray(sorted(c.values()), dtype=np.float64) / n
                    ent = float(-(p * np.log2(p)).sum())
                else:
                    ent = 0.0
                rows[id_col].append(did)
                rows["n_chars"].append(n)
                rows["distinct_chars"].append(len(c))
                rows["char_entropy"].append(round(ent, 6))
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def compression_ratio_docs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document zlib compression ratio — the classic redundancy signal
    (RefinedWeb/MassiveText drop documents that compress too well: repeated
    filler; or too poorly: random bytes).  DEFLATE level 6 on UTF-8 text.
    One zero-shuffle Arrow map; no SQL engine exposes zlib, so the query is
    rows-only with a pure-Python parity test instead of a DuckDB oracle."""
    import zlib

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType([
        df.schema[id_col],
        StructField("n_bytes", LongType()),
        StructField("n_compressed", LongType()),
        StructField("ratio", DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (id_col, "n_bytes", "n_compressed", "ratio")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, 6)
                rows[id_col].append(did)
                rows["n_bytes"].append(len(raw))
                rows["n_compressed"].append(len(comp))
                rows["ratio"].append(
                    round(len(comp) / len(raw), 6) if raw else 1.0
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def compression_profile_docs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Like :func:`compression_ratio_docs` plus ``n_stored`` — the REAL
    byte length of zlib level-0 (stored-mode) output.  Stored-mode framing
    is fully determined by the input length (2-byte header + per-block
    5-byte headers + payload + 4-byte adler32), which gives an oracle-
    checkable closed form ``6 + 5*max(ceil(n/65535), 1) + n`` — the
    ``max(·, 1)`` covers n=0, where zlib still emits one final empty
    stored block (11 bytes total) — so a SQL engine with no zlib can
    still attest the exact compressed byte count on that path, while
    ``ratio`` carries the level-6 redundancy signal.  One zero-shuffle
    Arrow map."""
    import zlib

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType([
        df.schema[id_col],
        StructField("n_bytes", LongType()),
        StructField("n_stored", LongType()),
        StructField("n_compressed", LongType()),
        StructField("ratio", DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (id_col, "n_bytes", "n_stored", "n_compressed", "ratio")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, 6)
                rows[id_col].append(did)
                rows["n_bytes"].append(len(raw))
                rows["n_stored"].append(len(zlib.compress(raw, 0)))
                rows["n_compressed"].append(len(comp))
                rows["ratio"].append(
                    round(len(comp) / len(raw), 6) if raw else 1.0
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def py_accent_fold(s: str) -> str:
    """Accent folding for search normalization: NFD-decompose, drop the
    combining marks (category Mn), recompose.  Cross-validated against
    DuckDB's independent `strip_accents` (ICU-derived) for the Latin
    range the corpus uses — two implementations, one law."""
    import unicodedata

    return unicodedata.normalize(
        "NFC",
        "".join(
            c for c in unicodedata.normalize("NFD", s)
            if unicodedata.category(c) != "Mn"
        ),
    )


def accent_fold_docs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Zero-shuffle Arrow map applying py_accent_fold per document."""
    import pandas as pd
    from pyspark.sql.types import BooleanType, StringType, StructField, StructType

    out_schema = StructType([
        df.schema[id_col],
        StructField("folded", StringType()),
        StructField("changed", BooleanType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = {k: [] for k in (id_col, "folded", "changed")}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                folded = py_accent_fold(text or "")
                rows[id_col].append(did)
                rows["folded"].append(folded)
                rows["changed"].append(folded != text)
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def kn_perplexity_scores(df, id_col: str = "doc_id", text_col: str = "text"):
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen
    & Goodman 1999 eq. 4.25) — the industry-standard LM smoothing the
    add-k form (lm_perplexity_scores) approximates:

        P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁•)
                 + (D·N₁₊(w₁•)/c(w₁•)) · N₁₊(•w₂)/N₁₊(••)

    with discount D = 3/4 (an exact binary fraction — the coefficient
    discipline), c(w₁•) the bigram-context total, N₁₊ the continuation
    type counts.  The continuation distribution is what distinguishes KN:
    a word that follows MANY contexts ('francisco' vs 'the') gets backoff
    mass proportional to its context diversity, not its raw frequency.

    Same scale contract as the add-k form: training = hash aggregations
    producing O(model) tables that BROADCAST; scoring joins the bigram
    stream against them.  The per-doc mean is a POSITION-ORDERED IEEE
    fold (not a bare float SUM), so aggregation order can never drift
    between engines.  Self-trained here (train corpus == score corpus),
    so every scored bigram has c₁₂ ≥ 1; the coalesce paths still handle
    unseen pairs for cross-corpus use."""
    words = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("ws")
    ).select(id_col, F.filter("ws", lambda w: w != "").alias("ws"))
    bigrams = words.select(
        id_col,
        F.posexplode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("i", "bg"),
    ).select(id_col, "i", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    bgc = bigrams.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    ctx = bgc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("ctx"),
        F.count("*").cast("long").alias("n1fw"),
    )
    n1bw = bgc.groupBy("w2").agg(F.count("*").cast("long").alias("n1bw"))
    n1tot = bgc.agg(F.count("*").cast("long").alias("n1tot"))

    scored = (
        bigrams.join(F.broadcast(bgc), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .join(F.broadcast(n1bw), "w2", "left")
        .crossJoin(F.broadcast(n1tot))
        .select(
            id_col,
            "i",
            F.log(
                (
                    F.greatest(
                        F.coalesce(F.col("c12"), F.lit(0)).cast("double") - 0.75,
                        F.lit(0.0),
                    )
                    + 0.75
                    * F.col("n1fw").cast("double")
                    * F.coalesce(F.col("n1bw"), F.lit(0)).cast("double")
                    / F.col("n1tot").cast("double")
                )
                / F.col("ctx").cast("double")
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "lp"))),
                lambda s: s["lp"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_lp"),
    )
    all_ids = words.select(id_col)
    return all_ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(
            F.coalesce(F.col("sum_lp") / F.col("n_bigrams"), F.lit(0.0)), 6
        ).alias("avg_logprob"),
        F.round(
            F.exp(-F.coalesce(F.col("sum_lp") / F.col("n_bigrams"), F.lit(0.0))),
            6,
        ).alias("kn_perplexity"),
    )


def rouge_l_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lead: int = 25,
    ref_len: int = 60,
    min_words: int = 40,
):
    """Per-doc LCS length between the ``lead``-word head and the next
    ``ref_len`` body words, as ONE zero-shuffle Arrow map — the ROUGE-L
    core (emits id, n_cand, n_ref, lcs_len; the F1 division stays in the
    calling plan).

    Why a kernel and not a nested F.aggregate fold: the 25x60 LCS DP as
    a higher-order-function expression runs INTERPRETED (measured 7.8 s
    for 5,000 docs at sf0.1 vs ~1 s here — the cdc_chunk_hashes lesson),
    while the inner DP row vectorizes completely: with t[j] =
    max(prev[j-1] + eq[j], prev[j]), the remaining cur[j] = max(t[j],
    cur[j-1]) dependency is a running maximum, so each of the 25 outer
    steps is two numpy vector ops + one maximum.accumulate.

    Parity: tokens compare as the SAME 32-bit md5 'rl:'-salted integers
    the DuckDB oracle folds over (hash-equality, not string-equality, so
    a hypothetical md5 collision still agrees across engines); every
    cell is exact int64."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import DataFrame  # noqa: F401

    def h32(w: str) -> int:
        return int(hashlib.md5(("rl:" + w).encode()).hexdigest()[:8], 16)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                id_col: [], "n_cand": [], "n_ref": [], "lcs_len": []
            }
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in str(text).lower().split(" ") if w != ""]
                if len(words) < min_words:
                    continue
                hs = [h32(w) for w in words[: lead + ref_len]]
                xs = hs[:lead]
                ys = np.asarray(hs[lead:], dtype=np.int64)
                prev = np.zeros(len(ys) + 1, dtype=np.int64)
                zero = np.zeros(1, dtype=np.int64)
                for x in xs:
                    t = np.maximum(prev[:-1] + (ys == x), prev[1:])
                    prev = np.maximum.accumulate(np.concatenate((zero, t)))
                out[id_col].append(did)
                out["n_cand"].append(len(xs))
                out["n_ref"].append(len(ys))
                out["lcs_len"].append(int(prev[-1]))
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} long, n_cand long, n_ref long, lcs_len long"
    )
