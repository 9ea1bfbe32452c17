"""Keyword (BM25-ish) search — SURVEY §2.4.

Reference: /root/reference/src/retrieval/HybridRetriever.js:365-399 — a full
scan over every entry's JSON-stringified metadata, per term a global-regex
count, TF-saturation `count*2.2/(count+1.2)`, score averaged over terms.

Spark plan: the term list is tiny (a literal array), the scan is a single
pass over the text column with one regexp_extract_all per term — all
codegen'd, no shuffle until the final top-k (TakeOrderedAndProject).
At 100 TB an inverted-index table (term → posting list) built once via
explode+groupBy would replace the scan; the scoring expression is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fusionspark.functions.text import (
    STOPWORDS,
    search_terms,
    term_count,
    tf_saturation,
    tokenize,
)


def extract_terms(query: str) -> list[str]:
    """K1 semantics in plain Python for a literal query string
    (HybridRetriever.js:366-368): lowercase, split \\s+, len>2, non-stopword.

    Deduped preserving first-seen order: the reference double-weights a
    repeated query term (score = Σ/len with duplicates), but duplicate
    terms break the indexed path's pivot — counting each term once keeps
    the scan and indexed paths bit-identical on every query."""
    stop = set(STOPWORDS)
    out: list[str] = []
    for t in query.lower().split():
        if len(t) > 2 and t not in stop and t not in out:
            out.append(t)
    return out


def term_pattern(term: str) -> str:
    """Regex-escape a query term so both search paths treat it as a literal
    substring.  The reference feeds terms straight to `new RegExp(term, 'g')`
    (HybridRetriever.js:383) and throws on e.g. `c++`; escaping makes both
    paths total on arbitrary user queries.  `re.escape` output is valid in
    Java regex too (backslash before non-alphanumerics only)."""
    import re

    return re.escape(term)


def tf_score(text_col: Column | str, terms: list[str]) -> Column:
    """K2: Σ_t tf_sat(count_t) / |terms| (HybridRetriever.js:381-390)."""
    if not terms:
        return F.lit(0.0)
    total: Column = F.lit(0.0)
    for t in terms:
        total = total + tf_saturation(term_count(text_col, F.lit(term_pattern(t))))
    return total / F.lit(float(len(terms)))


def keyword_search(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """K2/F5: TF-saturation ranked scan, score > 0, top-k
    (HybridRetriever.js:365-399).  Ties broken by id ASC.

    `keep_cols` carries extra columns through the TakeOrdered heap so
    consumers that need them (context_pack, quality_estimate) avoid a
    second corpus scan + join-back — and the GlobalLimit then sits on
    EVERY base-relation path of any downstream window, so the window
    audit can classify those frames as bounded."""
    terms = extract_terms(query)
    if not terms:
        return documents.select(
            F.col(id_col), F.lit(0.0).alias("score"), *keep_cols
        ).limit(0)
    scored = documents.withColumn("score", tf_score(F.col(text_col), terms))
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
        .select(id_col, "score", *keep_cols)
    )


def keyword_rank(
    ids, texts, query: str, top_k: int = 10
) -> list[tuple[str, float]]:
    """keyword_search on the driver over parallel id / text sequences (None
    text = ""): the same terms, the same non-overlapping count in the
    lowercased text, and the same tf-saturation sum in the same order, so
    every score is bit-identical.  (id, score) pairs with score > 0, by
    score DESC then id ASC, at most `top_k`."""
    terms = extract_terms(query)
    if not terms:
        return []
    n = float(len(terms))
    out = []
    for i, text in zip(ids, texts):
        low = (text or "").lower()
        total = 0.0
        for t in terms:
            c = low.count(t)
            total = total + c * 2.2 / (c + 1.2)
        if total > 0:
            out.append((i, total / n))
    out.sort(key=lambda p: (-p[1], p[0]))
    return out[:top_k]


def build_keyword_index(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index posting lists: (token, doc_id, freq) via explode +
    one map-side-combinable groupBy.  Built ONCE; searches then touch the
    index, never the corpus text — the 100-TB keyword path SCALE.md
    sketches (the reference re-scans every entry per query,
    HybridRetriever.js:365-399)."""
    from fusionspark.functions.text import tokenize

    toks = documents.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    return toks.groupBy("token", id_col).agg(F.count("*").alias("freq"))


def persist_keyword_index(
    documents: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Write the posting lists clustered by token so a term lookup reads a
    narrow, sorted slice (hash-repartition + within-partition sort ≈
    bucketing without a metastore)."""
    (
        build_keyword_index(documents, id_col, text_col)
        .repartition("token")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .parquet(path)
    )


def keyword_search_indexed(
    index: DataFrame,
    query: str,
    top_k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """K2 over the inverted index, bit-identical to keyword_search's scan:

    - substring semantics survive exactly: tokens are whitespace-split, so
      a (space-free) term's global non-overlapping count equals
      Σ_token occ(term, token) × freq — matches can't cross whitespace;
    - the tiny vocabulary × terms product finds matching tokens
      distributed (no corpus scan, no driver collect), then a broadcast
      semi-join prunes the postings;
    - per-term counts pivot into columns so the score folds tf_sat in the
      SAME left-to-right order as the scan expression (float-exact)."""
    terms = extract_terms(query)
    if not terms:
        return index.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    spark = index.sparkSession
    terms_df = spark.createDataFrame(
        [(t, term_pattern(t)) for t in terms], "term: string, pat: string"
    )
    vocab = index.select("token").distinct()
    matches = (
        vocab.crossJoin(F.broadcast(terms_df))
        .withColumn(
            "occ", F.size(F.regexp_extract_all(F.col("token"), F.col("pat"), F.lit(0)))
        )
        .filter(F.col("occ") > 0)
        .drop("pat")
    )
    counts = (
        index.join(F.broadcast(matches), "token")
        .groupBy(id_col)
        .pivot("term", terms)
        .agg(F.sum(F.col("occ") * F.col("freq")))
    )
    total: Column = F.lit(0.0)
    for t in terms:
        total = total + tf_saturation(F.coalesce(F.col(f"`{t}`"), F.lit(0)))
    score = total / F.lit(float(len(terms)))
    return (
        counts.withColumn("score", score)
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
        .select(id_col, "score")
    )


def keyword_overlap_search(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """K3: relevance = |terms present| / |terms| via substring containment
    (TreeIndex.js:685-696; same shape in AgentMemory.js:634-661)."""
    terms = [t for t in query.lower().split() if len(t) > 0]
    if not terms:
        return documents.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    lowered = F.lower(F.col(text_col))
    hits: Column = F.lit(0)
    for t in terms:
        hits = hits + F.when(lowered.contains(t), 1).otherwise(0)
    score = hits.cast("double") / F.lit(float(len(terms)))
    return (
        documents.withColumn("score", score)
        .filter(F.col("score") > threshold)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
        .select(id_col, "score")
    )


def bm25_search(
    documents: DataFrame,
    query: str,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full Okapi BM25 (north-star beyond the reference's TF-saturation
    scorer): per-term IDF ln(1 + (N − df + ½)/(df + ½)) and document-length
    normalization k1/b over whitespace tokens.

    Plan shape: per-document term frequencies are codegen column
    expressions over the (id, text) projection; the corpus statistics
    (N, avgdl, per-term df) reduce to ONE 1-row aggregate that
    cross-join-broadcasts back; the top-k is TakeOrderedAndProject.  No
    driver collect anywhere.  Catalyst does NOT share the stats subtree
    with the scoring subtree, so the projection is scanned twice
    (plan-audited); at 100 TB persist the TF projection (or reuse a
    standing stats table — df/avgdl drift slowly) to make it one pass."""
    terms = extract_terms(query)
    if not terms:
        raise ValueError("query has no usable terms")

    # tokenize ONCE per row into a real column, then derive dl and every
    # tf from it (r15, guide §2.3): codegen does not share subexpressions
    # across projection columns, so the previous per-column
    # tokenize(text) re-ran split+lower+filter len(terms)+1 times per row
    # (measured 2.7× slower at 15 tf columns).  Same array, same
    # downstream expressions — values are bit-identical.
    toks = F.col("__w")

    def _tf(i: int, t: str) -> Column:
        # closure, not a default-arg lambda: a 2-param lambda would make
        # Spark pass (element, index) and shadow the captured term
        return F.size(F.filter(toks, lambda w: w == F.lit(t))).alias(f"tf_{i}")

    tf_cols = [_tf(i, t) for i, t in enumerate(terms)]
    per_doc = documents.select(
        id_col, tokenize(F.col(text_col)).alias("__w")
    ).select(id_col, F.size(toks).alias("dl"), *tf_cols)

    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    score: Column = F.lit(0.0)
    matched: Column = F.lit(0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        score = score + idf * (tf * (k1 + 1.0)) / norm
        matched = matched + (F.col(f"tf_{i}") > 0).cast("int")
    return (
        scored.select(
            id_col,
            F.round(score, 6).alias("bm25"),
            matched.alias("n_terms"),
            F.col("dl").cast("long").alias("dl"),
        )
        .filter(F.col("n_terms") > 0)
        .orderBy(F.desc("bm25"), id_col)
        .limit(top_k)
    )


def tfidf_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    min_df: int = 2,
    max_df: int | None = None,
    scale: int = 100_000,
) -> DataFrame:
    """All-pairs document similarity above `threshold` via a sparse
    TF·IDF cosine JOIN on the inverted index — the third member of the
    similarity family (MinHash estimates Jaccard, embeddings need a
    model; this is the exact lexical cosine).

    Plan: tokenize → (doc, term, tf) postings (one shuffle), per-term df
    (vocab-sized agg), then postings⋈postings ON term with id-ordered
    dedup and a (doc_a, doc_b) dot-product agg.  The df WINDOW is the
    scale control: terms with df < `min_df` cannot produce a pair and
    vanish; terms with df > `max_df` (ubiquitous boilerplate — and the
    skew bombs: a term in every doc would fan out N²) are dropped, so
    per-term pair fan-out is bounded by max_df² regardless of corpus
    size.  At 100 TB max_df is an absolute constant (10⁴-ish), keeping
    every posting list a single task's work; the default here scales
    with the toy corpus (N/10).

    Weights are INTEGER — w = tf·⌊scale/df⌋ (plain inverse-df idf) — so
    dots and squared norms are exact BIGINTs whatever the aggregation
    order; the only float ops are the final sqrt + divide.  (ln-idf
    would put an order-dependent float SUM inside the pair agg, which
    can drift a hash across engines; swap the weight table, not the
    plan, if you want ln at production scale.)"""
    n_docs = documents.count()
    if max_df is None:
        max_df = max(3, n_docs // 10)
    from fusionspark.io import spread

    # r15: one-row-group local input - see io.spread
    toks = spread(documents.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"), F.explode(search_terms(text_col)).alias("term")
    )
    tf = toks.groupBy("doc", "term").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    kept = dfreq.filter(
        (F.col("df") >= F.lit(min_df)) & (F.col("df") <= F.lit(max_df))
    ).select("term", F.floor(F.lit(scale) / F.col("df")).cast("long").alias("idf_w"))
    wp = tf.join(F.broadcast(kept), "term").select(
        "doc", "term", (F.col("tf") * F.col("idf_w")).cast("long").alias("w")
    )
    norms = wp.groupBy("doc").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    b = wp.select(
        F.col("term"), F.col("doc").alias("doc_b"), F.col("w").alias("w_b")
    )
    dots = (
        wp.join(b, "term")
        .filter(F.col("doc") < F.col("doc_b"))
        .groupBy(F.col("doc").alias("doc_a"), "doc_b")
        .agg(F.sum(F.col("w") * F.col("w_b")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("n2").alias("n2_b"))
    cos = F.col("dot") / F.sqrt(F.col("n2_a").cast("double") * F.col("n2_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


def build_positional_index(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: (token, doc_id, pos) with pos the 0-based
    ordinal over the RAW single-space split — no lowering, no stopword or
    length filter, because phrase adjacency must see every token or
    positions shift.  One narrow posexplode projection; at 100 TB this is
    persisted clustered by token (persist_keyword_index's layout) so a
    phrase query reads only its terms' postings, never the corpus.

    The reference has no phrase operator (HybridRetriever.js treats the
    query as a bag of independent terms, :365-399); this is the standard
    search-engine extension of its inverted-index design."""
    return documents.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    )


def phrase_search(
    documents: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact phrase match over the positional index: anchor on the first
    term's postings, then for each later term an EQUI-join on
    (doc_id, pos − offset).  Occurrences may overlap (each anchor position
    is judged independently), matching the oracle's positional replay.

    Scale shape: postings are pruned to the phrase's terms BEFORE any
    shuffle (predicate pushdown into the index scan), so the joins move
    only matching-term postings; every join is a hash equi-join on
    (doc_id, pos) — no inequality, no cartesian.  Returns one row per
    matching doc: (id, n_hits, first_pos)."""
    terms = phrase.split()
    if not terms:
        raise ValueError("empty phrase")
    idx = (
        index
        if index is not None
        else build_positional_index(documents, id_col, text_col)
    )
    postings = idx.filter(F.col("token").isin(terms))
    anchors = postings.filter(F.col("token") == terms[0]).select(id_col, "pos")
    for k, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("token") == t).select(
            F.col(id_col), (F.col("pos") - F.lit(k)).alias("pos")
        )
        anchors = anchors.join(nxt, [id_col, "pos"])
    return anchors.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_hits"),
        F.min("pos").cast("int").alias("first_pos"),
    )
