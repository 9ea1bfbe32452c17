"""Training-data-pipeline operator family (north-star additions,
BASELINE.json): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), ANN (IVF), language ID, quality scoring, token counting,
document fingerprinting.

Hashes are md5-derived (identical in Spark, DuckDB, Python), so even the
LSH signatures are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusionspark.functions.text import STOPWORDS, tokenize
from fusionspark.io import load_table
from fusionspark.operators import dedup, textstats
from fusionspark.operators.dedup import md5_hash32
from fusionspark.operators.ann import ivf_knn
from fusionspark.operators.knn import self_probes
from fusionspark.queries import query

# ── shared DuckDB fragments ───────────────────────────────────────────────

_WORDS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(words) - 2, 1)),"
    " i -> array_to_string(words[i:i+2], ' '))"
)
_H32 = "('0x' || substr(md5({expr}), 1, 8))::BIGINT"
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

NUM_HASHES, BANDS = 16, 4
_ROWS = NUM_HASHES // BANDS

# Carter-Wegman derived hashes from two md5 bases (mirrors
# dedup.minhash_signatures): h_i = (b1 + i*b2) % (2^31-1)
_SIG_COLS = ",\n        ".join(
    f"MIN((b1 + {i} * b2) % 2147483647) AS h{i}" for i in range(NUM_HASHES)
)
_BAND_KEYS = ",\n        ".join(
    "concat_ws(',', "
    + ", ".join(f"h{b * _ROWS + r}::VARCHAR" for r in range(_ROWS))
    + f") AS bk{b}"
    for b in range(BANDS)
)
_BAND_UNION = "\n        UNION ALL\n        ".join(
    f"SELECT doc_id, {b} AS band, bk{b} AS band_key FROM keyed" for b in range(BANDS)
)


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
           COUNT(*)::BIGINT AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (shuffle key = 16-byte digest)."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_minhash",
    f"""
    WITH words_t AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sh_t AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM words_t
    ),
    based AS (
        SELECT doc_id,
               {_H32.format(expr='s')} AS b1,
               {_H32.format(expr="'x:' || s")} AS b2
        FROM sh_t
    ),
    sigs AS (
        SELECT doc_id,
        {_SIG_COLS}
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id,
        {_BAND_KEYS}
        FROM sigs
    ),
    banded AS (
        {_BAND_UNION}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ws AS (SELECT doc_id, list_distinct(words) AS w FROM words_t)
    SELECT id_a, id_b,
           FLOOR((CASE WHEN len(list_distinct(list_concat(wa.w, wb.w))) > 0
                  THEN len(list_intersect(wa.w, wb.w))::DOUBLE
                       / len(list_distinct(list_concat(wa.w, wb.w)))
                  ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM cands
    JOIN ws wa ON wa.doc_id = id_a
    JOIN ws wb ON wb.doc_id = id_b
    WHERE CASE WHEN len(list_distinct(list_concat(wa.w, wb.w))) > 0
          THEN len(list_intersect(wa.w, wb.w))::DOUBLE
               / len(list_distinct(list_concat(wa.w, wb.w)))
          ELSE 0.0 END >= 0.7
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup: bucket-join candidates, true-Jaccard
    verify ≥ 0.7.  Pair space never materializes beyond shared buckets."""
    df = dedup.minhash_neardup(
        load_table(spark, sf_dir, "documents"), threshold=0.7,
        num_hashes=NUM_HASHES, bands=BANDS,
    )
    # r14: Jaccard is a ratio of small integers — exactly the class where
    # ROUND's shortest-string halfway diverges across engines (dyadic
    # unions); round6_stable reads only the binary value
    return df.select(
        "id_a", "id_b", textstats.round6_stable(F.col("sim")).alias("sim")
    )


@query(
    "simhash_values",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id, {_H32.format(expr='tok')} AS h FROM toks
    ),
    bits AS (
        SELECT doc_id, b.b AS bit,
               CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
    ),
    agg AS (SELECT doc_id, bit, SUM(vote) AS s FROM bits GROUP BY doc_id, bit)
    SELECT doc_id,
           SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
    FROM agg GROUP BY doc_id
    """,
)
def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (distributive explode/groupBy form)."""
    return dedup.simhash32(load_table(spark, sf_dir, "documents"))


@query(
    "neardup_ngram",
    f"""
    WITH sh_t AS (
        SELECT doc_id, lang, source, list_distinct({_SHINGLES}) AS sh
        FROM (SELECT doc_id, lang, source, {_WORDS} AS words FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           FLOOR((len(list_intersect(a.sh, b.sh))::DOUBLE
                  / len(list_distinct(list_concat(a.sh, b.sh))))
                 * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM sh_t a JOIN sh_t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    """,
)
def neardup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup within (lang, source) blocks."""
    df = dedup.ngram_jaccard_neardup(
        load_table(spark, sf_dir, "documents"), threshold=0.0
    )
    # r14: integer-ratio Jaccard — round6_stable (audit-flagged 1/128)
    return df.filter(F.col("sim") > 0).select(
        "id_a", "id_b", textstats.round6_stable(F.col("sim")).alias("sim")
    )


@query(
    "neardup_embedding",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    """,
)
def neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup within label blocks (IVF centroid blocks at
    scale)."""
    df = dedup.embedding_neardup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3
    )
    return df.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


@query(
    "neardup_ngram_lsh",
    f"""
    WITH words_t AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sh_t AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM words_t
    ),
    based AS (
        SELECT doc_id,
               {_H32.format(expr='s')} AS b1,
               {_H32.format(expr="'x:' || s")} AS b2
        FROM sh_t
    ),
    sigs AS (
        SELECT doc_id,
        {_SIG_COLS}
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id,
        {_BAND_KEYS}
        FROM sigs
    ),
    banded AS (
        {_BAND_UNION}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM words_t)
    SELECT id_a, id_b,
           FLOOR((len(list_intersect(a.sh, b.sh))::DOUBLE
                  / len(list_distinct(list_concat(a.sh, b.sh))))
                 * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM cands
    JOIN sh a ON a.doc_id = id_a
    JOIN sh b ON b.doc_id = id_b
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    """,
)
def neardup_ngram_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of neardup_ngram: candidate pairs come from shared
    MinHash LSH buckets (band-bucket equi-join — pair space bounded by the
    banding curve, no (lang, source) quadratic blocks), then the SAME exact
    shingle-Jaccard verify runs on candidates only.  This is the plan you'd
    run at 100 TB; the oracle replays the md5 Carter-Wegman bands, the
    bucket join, and the verify bit-for-bit."""
    df = dedup.ngram_minhash_neardup(
        load_table(spark, sf_dir, "documents"), threshold=0.0,
        num_hashes=NUM_HASHES, bands=BANDS,
    )
    # r14: integer-ratio Jaccard — round6_stable (shortest-string class)
    return df.filter(F.col("sim") > 0).select(
        "id_a", "id_b", textstats.round6_stable(F.col("sim")).alias("sim")
    )


@query(
    "neardup_embedding_ivf",
    """
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings ORDER BY vec_id ASC LIMIT 8
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                       c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    """,
)
def neardup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of neardup_embedding: blocks are IVF centroid lists
    (zero-shuffle Arrow assignment from operators/ann.py) instead of the
    low-cardinality label column, so block sizes follow the codebook and
    the within-list self-join is the only pair-producing join.  The oracle
    replays the deterministic centroids and the argmax assignment."""
    df = dedup.embedding_neardup_ivf(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3, n_centroids=8
    )
    return df.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


def _lang_scores_sql() -> str:
    parts = []
    for lang in textstats.LANG_ORDER:
        markers = "[" + ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang]) + "]"
        parts.append(
            f"len(list_filter(words, t -> list_contains({markers}, t))) AS s_{lang}"
        )
    return ",\n           ".join(parts)


def _lang_case_sql() -> str:
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in textstats.LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in textstats.LANG_ORDER
    )
    return f"CASE WHEN {m} = 0 THEN 'unknown' {whens} END"


@query(
    "lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {_lang_scores_sql()}
        FROM (SELECT doc_id, lang, {_WORDS} AS words FROM documents)
    )
    SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred FROM scored
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID heuristic (argmax, fixed tie order)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", textstats.lang_id("text").alias("lang_pred"))


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           FLOOR((least(1.0, n_tokens / 50.0) * 0.5
                  + least(1.0, CASE WHEN n_tokens > 0
                               THEN n_stop::DOUBLE / n_tokens ELSE 0 END * 2) * 0.3
                  + CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                              / length(text) ELSE 0 END * 0.2)
                 * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM (
        SELECT doc_id, text, len(words) AS n_tokens,
               len(list_filter(words, t -> list_contains({_STOP_SQL}, t))) AS n_stop
        FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents)
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic: length + stopword ratio + alpha ratio."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.round6_stable(textstats.quality_score("text")).alias("quality"),
    )


@query(
    "token_counts",
    r"""
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), x -> x <> ''))::INT AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::INT AS bpe_tokens
    FROM documents
    """,
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    d = load_table(spark, sf_dir, "documents")
    ws, bpe = textstats.token_counts("text")
    return d.select(
        "doc_id", ws.cast("int").alias("ws_tokens"), bpe.cast("int").alias("bpe_tokens")
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                                   i -> md5(substr(text, i, 8)))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint: min md5 over char 8-grams
    (Arrow-batched map — the expression form's nested transform is
    CodegenFallback-interpreted)."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.fingerprint_docs(d)


# shared by ann_ivf and ann_ivf_distributed — both compute the same IVF
# semantics (deterministic first-8 centroids, first-5 probes, nProbe=2,
# exact re-rank inside the chosen lists), differing only in the Spark
# physical plan (driver-routed broadcast vs distributed routing + cogroup)
ANN_IVF_ORACLE = """
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings ORDER BY vec_id ASC LIMIT 8
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                       c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_embedding
        FROM embeddings ORDER BY vec_id ASC LIMIT 5
    ),
    probe_lists AS (
        SELECT probe_id, probe_embedding, centroid_id FROM (
            SELECT p.probe_id, p.probe_embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
                       list_cosine_similarity(p.probe_embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                       c.centroid_id ASC) AS rn
            FROM probes p CROSS JOIN cent c
        ) WHERE rn <= 2
    )
    SELECT probe_id, vec_id, ROUND(sim, 6) AS sim, rnk FROM (
        SELECT pl.probe_id, a.vec_id,
               list_cosine_similarity(a.embedding::DOUBLE[], pl.probe_embedding::DOUBLE[]) AS sim,
               ROW_NUMBER() OVER (PARTITION BY pl.probe_id ORDER BY
                   list_cosine_similarity(a.embedding::DOUBLE[], pl.probe_embedding::DOUBLE[]) DESC,
                   a.vec_id ASC) AS rnk
        FROM assigned a JOIN probe_lists pl ON a.centroid_id = pl.centroid_id
    ) WHERE rnk <= 10
    """


@query("ann_ivf", ANN_IVF_ORACLE)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate k-NN: deterministic centroids, nProbe=2 list pruning,
    exact re-rank inside selected lists (operators/ann.py).  Centroids AND
    probes are both prefixes of the id-ordered corpus, so ONE collect
    serves both — the corpus is sorted once, not twice."""
    e = load_table(spark, sf_dir, "embeddings")
    head = e.orderBy(F.col("vec_id").asc()).limit(8).select("vec_id", "embedding").collect()
    cent = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in head],
        "centroid_id: bigint, centroid: array<float>",
    )
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in head[:5]],
        "probe_id: bigint, probe_embedding: array<float>",
    )
    df = ivf_knn(e, probes, k=10, n_centroids=8, n_probe=2, centroids=cent)
    return df.select("probe_id", "vec_id", F.round("sim", 6).alias("sim"), F.col("rnk").cast("long").alias("rnk"))


@query("ann_ivf_distributed", ANN_IVF_ORACLE)
def ann_ivf_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The millions-of-probes IVF form (operators/ann.py:
    ivf_search_distributed): probes never collect to the driver — Arrow-map
    routing against the closure-shipped codebook, then a cogroup GEMM over
    (centroid_id, probe_block, corpus_block) with 2-D skew blocking.  Same
    oracle as ann_ivf: the two physical plans must agree row for row."""
    import atexit
    import shutil
    import tempfile

    from fusionspark.operators.ann import ivf_search_distributed, persist_ivf

    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="fusionspark-ivf-dist-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    persist_ivf(e, f"{root}/ivf", n_centroids=8)
    head = e.orderBy(F.col("vec_id").asc()).limit(5).select("vec_id", "embedding").collect()
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in head],
        "probe_id: bigint, probe_embedding: array<float>",
    )
    df = ivf_search_distributed(spark, f"{root}/ivf", probes, k=10, n_probe=2)
    return df.select(
        "probe_id", "vec_id", F.round("sim", 6).alias("sim"),
        F.col("rnk").cast("long").alias("rnk"),
    )


# V7 at scale: the pre-filter runs INSIDE the pruned lists, before any row
# can take a top-k slot — same semantics as knn_filtered, same IVF pruning
# as ann_ivf.  The oracle adds the predicate to the scoring CTE only (the
# assignment is unfiltered, matching the persisted index).
ANN_IVF_FILTERED_ORACLE = ANN_IVF_ORACLE.replace(
    "FROM assigned a JOIN probe_lists pl ON a.centroid_id = pl.centroid_id",
    "FROM assigned a JOIN probe_lists pl ON a.centroid_id = pl.centroid_id\n"
    "        WHERE a.vec_id % 2 = 0",
)


@query("ann_ivf_filtered", ANN_IVF_FILTERED_ORACLE)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered approximate search (V7 + V6 composed): IVF partition
    pruning with the metadata predicate applied to the pruned lists BEFORE
    scoring (`ivf_search_persisted(pre_filter=...)`) — excluded rows never
    occupy a rank slot, unlike the reference's post-filter
    (HNSWIndex.js search + filter in FusionEngine.js)."""
    import atexit
    import shutil
    import tempfile

    from fusionspark.operators.ann import ivf_search_persisted, persist_ivf

    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="fusionspark-ivf-filt-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    persist_ivf(e, f"{root}/ivf", n_centroids=8)
    head = e.orderBy(F.col("vec_id").asc()).limit(5).select("vec_id", "embedding").collect()
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in head],
        "probe_id: bigint, probe_embedding: array<float>",
    )
    df = ivf_search_persisted(
        spark, f"{root}/ivf", probes, k=10, n_probe=2,
        pre_filter=(F.col("vec_id") % 2 == 0),
    )
    return df.select(
        "probe_id", "vec_id", F.round("sim", 6).alias("sim"),
        F.col("rnk").cast("long").alias("rnk"),
    )


@query(
    "corpus_clean",
    f"""
    WITH keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    stats AS (
        SELECT doc_id, len(words)::BIGINT AS ws_tokens,
               least(1.0, len(words) / 50.0) * 0.5
               + least(1.0, CASE WHEN len(words) > 0
                            THEN len(list_filter(words, t -> list_contains({_STOP_SQL}, t)))::DOUBLE
                                 / len(words) ELSE 0 END * 2) * 0.3
               + CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                           / length(text) ELSE 0 END * 0.2 AS quality,
               {_lang_scores_sql()}
        FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents)
    )
    SELECT s.doc_id, {_lang_case_sql()} AS lang_pred,
           FLOOR(quality * 1000000.0 + 0.5) / 1000000.0 AS quality, ws_tokens
    FROM stats s SEMI JOIN keepers k ON s.doc_id = k.doc_id
    WHERE quality >= 0.5
    """,
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pass in ONE declarative plan:
    exact-dedup keepers (min id per content hash) ∩ quality ≥ 0.5, tagged
    with predicted language and token counts — the composition a 100 TB
    pretraining pipeline runs nightly (each stage is the already-checked
    operator; zero extra scans: one groupBy for keepers, the rest are
    row-local expressions)."""
    d = load_table(spark, sf_dir, "documents")
    keepers = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ws, _bpe = textstats.token_counts("text")
    return (
        d.join(keepers, "doc_id", "left_semi")
        .withColumn("quality", textstats.quality_score("text"))
        .filter(F.col("quality") >= 0.5)
        .select(
            "doc_id",
            textstats.lang_id("text").alias("lang_pred"),
            textstats.round6_stable(F.col("quality")).alias("quality"),
            ws.cast("long").alias("ws_tokens"),
        )
    )


# SRP oracle: the md5-derived planes (ann.md5_planes) are exact IEEE doubles
# on both sides — a 32-bit H32 divided by 2^31 minus 1 — so DuckDB can replay
# signature bits, band keys, and the exact cosine re-rank bit-for-bit.
# n_bits=16, bands=8 → band b = bits [2b, 2b+1], band_val = bit0 + 2*bit1
# (matches ann._sig_bands shiftright/mask layout).
ANN_SRP_ORACLE = f"""
    WITH planes AS (
        SELECT b, i,
               {_H32.format(expr="'srp:42:' || b::VARCHAR || ':' || i::VARCHAR")}
                   / 2147483648.0 - 1.0 AS w
        FROM range(16) tb(b) CROSS JOIN range(64) ti(i)
    ),
    sigbits AS (
        SELECT e.vec_id, p.b,
               CASE WHEN SUM(e.embedding[p.i + 1]::DOUBLE * p.w) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, p.b
    ),
    bands AS (
        SELECT vec_id, (b // 2)::INT AS band,
               SUM(bit << (b % 2))::BIGINT AS band_val
        FROM sigbits GROUP BY vec_id, b // 2
    ),
    probes AS (
        SELECT vec_id AS probe_id, embedding AS probe_embedding
        FROM embeddings ORDER BY vec_id ASC LIMIT 5
    ),
    probe_bands AS (
        SELECT p.probe_id, bd.band, bd.band_val
        FROM probes p JOIN bands bd ON bd.vec_id = p.probe_id
    ),
    cands AS (
        SELECT DISTINCT pb.probe_id, bd.vec_id
        FROM probe_bands pb
        JOIN bands bd ON pb.band = bd.band AND pb.band_val = bd.band_val
    )
    SELECT probe_id, vec_id, ROUND(sim, 6) AS sim, rnk FROM (
        SELECT c.probe_id, c.vec_id,
               list_cosine_similarity(e.embedding::DOUBLE[], p.probe_embedding::DOUBLE[]) AS sim,
               ROW_NUMBER() OVER (PARTITION BY c.probe_id ORDER BY
                   list_cosine_similarity(e.embedding::DOUBLE[], p.probe_embedding::DOUBLE[]) DESC,
                   c.vec_id ASC) AS rnk
        FROM cands c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN probes p ON p.probe_id = c.probe_id
    ) WHERE rnk <= 10
    """


@query("ann_srp", ANN_SRP_ORACLE)
def ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate k-NN (signed random projections, banded
    like MinHash; operators/ann.py::srp_knn).  Planes are md5-derived
    (ann.md5_planes) so the full pipeline — signature bits, band buckets,
    exact cosine re-rank — replays in DuckDB; recall vs brute force is
    additionally pytest-asserted (test_dedup_ann.py::test_srp_lsh_recall)."""
    from fusionspark.operators.ann import md5_planes, srp_knn

    e = load_table(spark, sf_dir, "embeddings")
    probes = self_probes(e, 5)
    df = srp_knn(e, probes, k=10, n_bits=16, bands=8, planes=md5_planes(16, 64))
    return df.select(
        "probe_id", "vec_id", F.round("sim", 6).alias("sim"),
        F.col("rnk").cast("long").alias("rnk"),
    )


# ── round 5: clustering, corpus-quality filters, sampling, packing, PII ───

_PAIRS_07 = f"""
    words_t AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sh_t AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM words_t
    ),
    based AS (
        SELECT doc_id,
               {_H32.format(expr='s')} AS b1,
               {_H32.format(expr="'x:' || s")} AS b2
        FROM sh_t
    ),
    sigs AS (
        SELECT doc_id,
        {_SIG_COLS}
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id,
        {_BAND_KEYS}
        FROM sigs
    ),
    banded AS (
        {_BAND_UNION}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ws AS (SELECT doc_id, list_distinct(words) AS w FROM words_t),
    pairs AS (
        SELECT id_a, id_b
        FROM cands
        JOIN ws wa ON wa.doc_id = id_a
        JOIN ws wb ON wb.doc_id = id_b
        WHERE CASE WHEN len(list_distinct(list_concat(wa.w, wb.w))) > 0
              THEN len(list_intersect(wa.w, wb.w))::DOUBLE
                   / len(list_distinct(list_concat(wa.w, wb.w)))
              ELSE 0.0 END >= 0.7
    )
"""


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_PAIRS_07.strip()},
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT sym.d, walk.lbl FROM walk JOIN sym ON walk.node = sym.s
    ),
    labels AS (
        SELECT node AS doc_id, MIN(lbl)::BIGINT AS component
        FROM walk GROUP BY node
    )
    SELECT doc_id, component,
           (COUNT(*) OVER (PARTITION BY component))::BIGINT AS cluster_size
    FROM labels
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH verified pairs (≥ 0.7 Jaccard, the
    dedup_minhash edge set) closed into connected components by min-label
    propagation — per doc its component (= canonical keeper id) and the
    cluster size.  The oracle replays the closure as a recursive CTE."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.minhash_neardup(
        docs, threshold=0.7, num_hashes=NUM_HASHES, bands=BANDS
    ).select("id_a", "id_b")
    labels = dedup.connected_components(edges, docs.select("doc_id"))
    return labels.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("component")).cast("long"),
    )


_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in textstats.GOPHER_STOPS) + "]"

# Gopher line rules (bullet-start / ellipsis-end fractions), DuckDB side —
# mirrors textstats.gopher_metrics (split on \n; one line minimum).
_LINE_FRACS_SQL = """
               len(list_filter(string_split(text, chr(10)),
                               l -> regexp_matches(l, '^[-*•] ')))::DOUBLE
                   / len(string_split(text, chr(10))) AS bullet_frac,
               len(list_filter(string_split(text, chr(10)),
                               l -> ends_with(l, '...')))::DOUBLE
                   / len(string_split(text, chr(10))) AS ell_frac
"""


@query(
    "gopher_quality",
    f"""
    WITH t AS (
        SELECT doc_id, text, {_WORDS} AS words FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(words) AS n_words,
               CASE WHEN len(words) > 0
                    THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE
                         / len(words)
                    ELSE 0.0 END AS mwl,
               CASE WHEN len(words) > 0
                    THEN ((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3
                         )::DOUBLE / len(words)
                    ELSE 0.0 END AS sym_ratio,
               CASE WHEN len(words) > 0
                    THEN len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                         / len(words)
                    ELSE 0.0 END AS alpha_ratio,
               len(list_intersect(list_distinct(words), {_GOPHER_STOPS_SQL})) AS stop_hits,
               {_LINE_FRACS_SQL}
        FROM t
    )
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           ROUND(mwl, 6) AS mean_word_len,
           ROUND(sym_ratio, 6) AS symbol_ratio,
           ROUND(alpha_ratio, 6) AS alpha_word_ratio,
           stop_hits::BIGINT AS n_stop_hits,
           ROUND(bullet_frac, 6) AS bullet_line_frac,
           ROUND(ell_frac, 6) AS ellipsis_line_frac,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND mwl BETWEEN 3.0 AND 10.0
                 AND sym_ratio <= 0.1
                 AND alpha_ratio >= 0.8
                 AND stop_hits >= 2
                 AND bullet_frac <= 0.9
                 AND ell_frac <= 0.3
                THEN 1 ELSE 0 END AS passes
    FROM m
    """,
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher corpus-quality rules (Rae et al. 2021 §A1.1) per document:
    word-count / mean-word-length bounds, symbol ratio, alphabetic-word
    ratio, stop-word probe, bullet-start / ellipsis-end line fractions —
    expression-only (operators/textstats.py)."""
    d = load_table(spark, sf_dir, "documents")
    g = textstats.gopher_metrics("text")
    return d.select(
        "doc_id",
        g["n_words"].cast("long").alias("n_words"),
        F.round(g["mean_word_len"], 6).alias("mean_word_len"),
        F.round(g["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(g["alpha_word_ratio"], 6).alias("alpha_word_ratio"),
        g["n_stop_hits"].cast("long").alias("n_stop_hits"),
        F.round(g["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(g["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
        g["passes"].alias("passes"),
    )


# Multi-line synthetic corpus for the line rules: doc text re-lined into
# 8-word chunks; line j bulleted when (doc_id+j) % 3 = 0, ellipsis-ended
# when (doc_id+j) % 4 = 0 — deterministic on both engines, fractions land
# around 1/3 and 1/4 so both thresholds (0.9 / 0.3) actually bite.
_LINE_CORPUS_SQL = f"""
    line_corpus AS (
        SELECT doc_id,
               array_to_string(
                   list_transform(
                       generate_series(0, cast(ceil(len(words) / 8.0) AS INT) - 1),
                       j -> (CASE WHEN (doc_id + j) % 3 = 0 THEN '- ' ELSE '' END)
                            || array_to_string(words[8*j+1:8*j+8], ' ')
                            || (CASE WHEN (doc_id + j) % 4 = 0 THEN '...' ELSE '' END)),
                   chr(10)) AS text
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
        WHERE len(words) > 0
    )
"""


@query(
    "gopher_lines",
    f"""
    WITH {_LINE_CORPUS_SQL.strip()},
    m AS (
        SELECT doc_id,
               len(string_split(text, chr(10)))::BIGINT AS n_lines,
               {_LINE_FRACS_SQL}
        FROM line_corpus
    )
    SELECT doc_id, n_lines,
           ROUND(bullet_frac, 6) AS bullet_line_frac,
           ROUND(ell_frac, 6) AS ellipsis_line_frac,
           CASE WHEN bullet_frac <= 0.9 AND ell_frac <= 0.3
                THEN 1 ELSE 0 END AS line_pass
    FROM m
    """,
)
def gopher_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher LINE rules (Rae et al. 2021 §A1.1: ≤90% bullet-start lines,
    ≤30% ellipsis-end lines) exercised on a deterministic multi-line
    re-lining of the corpus (the driver documents are single-line, where
    the fractions are identically zero).  The corpus synthesis is test
    scaffolding; the metrics themselves are the same pure column
    expressions gopher_quality ships (textstats.gopher_metrics)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    j_to_line = lambda j: F.concat(  # noqa: E731
        F.when((F.col("doc_id") + j) % 3 == 0, F.lit("- ")).otherwise(F.lit("")),
        F.array_join(F.slice(toks, j * 8 + 1, 8), " "),
        F.when((F.col("doc_id") + j) % 4 == 0, F.lit("...")).otherwise(F.lit("")),
    )
    lined = (
        d.filter(F.size(toks) > 0)
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.sequence(F.lit(0), n_chunks - 1), j_to_line), "\n"
            ).alias("text"),
        )
    )
    g = textstats.gopher_metrics("text")
    return lined.select(
        "doc_id",
        F.size(F.split("text", "\n")).cast("long").alias("n_lines"),
        F.round(g["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(g["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
        (
            (g["bullet_line_frac"] <= 0.9) & (g["ellipsis_line_frac"] <= 0.3)
        ).cast("int").alias("line_pass"),
    )


@query(
    "c4_filter",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[.!?]'))::BIGINT AS n_sentences,
           CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
           CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem,
           CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                 AND NOT contains(text, '{')
                 AND NOT contains(lower(text), 'lorem ipsum')
                THEN 1 ELSE 0 END AS passes
    FROM documents
    """,
)
def c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) per document: sentence
    count, code-brace and boilerplate probes (operators/textstats.py)."""
    d = load_table(spark, sf_dir, "documents")
    c = textstats.c4_metrics("text")
    return d.select(
        "doc_id",
        c["n_sentences"].cast("long").alias("n_sentences"),
        c["has_brace"].alias("has_brace"),
        c["has_lorem"].alias("has_lorem"),
        c["passes"].alias("passes"),
    )


@query(
    "hash_sample",
    """
    SELECT doc_id, lang,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS sample_bucket
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 20
    """,
)
def hash_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% corpus sample: keep iff md5(id) mod 100 < 20 —
    reproducible across runs/engines/partitionings, composes with
    incremental ingestion (operators/packing.py::hash_sample)."""
    from fusionspark.operators.packing import hash_sample

    d = load_table(spark, sf_dir, "documents")
    return hash_sample(d, pct=20).select("doc_id", "lang", "sample_bucket")


@query(
    "pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               len({_WORDS}) AS n_tokens,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens, shard,
               SUM(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM t
    )
    SELECT doc_id, lang, n_tokens::BIGINT AS n_tokens, shard::BIGINT AS shard,
           FLOOR((cum - n_tokens)::DOUBLE / 512)::BIGINT AS pack_id
    FROM c
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents hash-sharded, ordered by id, cut into
    512-token packs by running token count — one window pass, the
    pre-tokenization batching step (operators/packing.py)."""
    from fusionspark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    out = pack_sequences(d, budget=512, n_shards=8)
    return out.select(
        "doc_id", "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
    )


_PII_AUG_SQL = (
    "text || CASE WHEN doc_id % 5 = 0 "
    "THEN ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.' "
    "|| (doc_id % 256)::VARCHAR || '.7' ELSE '' END"
)


@query(
    "pii_redact",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{textstats.EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t, '{textstats.IPV4_RE}'))::BIGINT AS n_ips,
           md5(regexp_replace(regexp_replace(t, '{textstats.EMAIL_RE}', '<EMAIL>', 'g'),
                              '{textstats.IPV4_RE}', '<IP>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: mask emails/IPv4 and count what was masked.  The corpus
    carries no PII, so a deterministic augmentation plants one email + one
    IP on every 5th doc IN THE QUERY on both engines — the redaction is
    exercised on real matches, not vacuous zeros."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
    )
    p = textstats.pii_redact(aug)
    return d.select(
        "doc_id",
        p["n_emails"].cast("long").alias("n_emails"),
        p["n_ips"].cast("long").alias("n_ips"),
        F.md5(p["redacted"]).alias("redacted_md5"),
    )


@query(
    "repetition_stats",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(words) - 1, 1)),
                   i -> array_to_string(words[i:i+1], ' '))) AS gram
        FROM w
    ),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id,
           SUM(cnt)::BIGINT AS n_grams,
           COUNT(*)::BIGINT AS n_unique,
           MAX(cnt)::BIGINT AS top_count,
           ROUND(MAX(cnt)::DOUBLE / SUM(cnt), 6) AS top_frac,
           ROUND(1.0::DOUBLE - COUNT(*)::DOUBLE / SUM(cnt), 6) AS dup_frac
    FROM c GROUP BY doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.1, 'repetitious
    content'): per-document word-2-gram totals, the most-frequent-2-gram
    fraction, and the duplicate-2-gram fraction — one zero-shuffle Arrow
    map (operators/textstats.py::repetition_stats_docs; the statistic is
    per-document, so shuffling gram occurrences would be pure waste)."""
    return textstats.repetition_stats_docs(
        load_table(spark, sf_dir, "documents")
    )


@query(
    "vocab_coverage",
    f"""
    WITH w AS (SELECT unnest({_WORDS}) AS tok FROM documents),
    c AS (SELECT tok, COUNT(*) AS cnt FROM w GROUP BY tok),
    t AS (SELECT SUM(cnt)::DOUBLE AS total FROM c),
    r AS (
        SELECT tok, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk,
               SUM(cnt) OVER (ORDER BY cnt DESC, tok
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM c
    )
    SELECT rnk::BIGINT AS rnk, tok, cnt::BIGINT AS cnt,
           ROUND(cum::DOUBLE / total, 6) AS coverage
    FROM r, t WHERE rnk <= 100
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab induction view: the 100 most frequent words with
    cumulative corpus coverage.  Scale-shaped: the corpus-wide count is a
    hash agg, the global ordering happens AFTER a top-100 TakeOrdered —
    the single-partition window only ever sees 100 rows, never the
    vocabulary."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    c = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = c.agg(F.sum("cnt").cast("double").alias("total"))
    top = c.orderBy(F.desc("cnt"), "tok").limit(100)
    w = (
        Window.orderBy(F.desc("cnt"), "tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rnk", "tok", F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


_MIX_RATES = {"en": 100, "de": 60, "fr": 40, "es": 40, "zh": 20}
_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{g}' THEN {r}" for g, r in _MIX_RATES.items()
) + " ELSE 0 END"


@query(
    "domain_mix",
    f"""
    WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(lang || ':' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 100 AS mix_bucket
        FROM documents
    )
    SELECT doc_id, lang, mix_bucket
    FROM b WHERE mix_bucket < {_MIX_CASE}
    """,
)
def domain_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing (corpus assembly): keep each language at its
    configured rate via a deterministic md5(group:id) bucket — raising a
    rate only ever ADDS documents (operators/packing.py::domain_mix)."""
    from fusionspark.operators.packing import domain_mix

    d = load_table(spark, sf_dir, "documents")
    return domain_mix(d, _MIX_RATES, group_col="lang").select(
        "doc_id", "lang", "mix_bucket"
    )


_SHINGLES5 = (
    "list_transform(generate_series(1, greatest(len(words) - 4, 1)),"
    " i -> array_to_string(words[i:i+4], ' '))"
)


@query(
    "contamination_check",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    sh AS (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
               unnest(list_distinct({_SHINGLES5})) AS s
        FROM w
    ),
    holdout AS (SELECT DISTINCT s FROM sh WHERE b < 5),
    train AS (SELECT doc_id, s FROM sh WHERE b >= 5)
    SELECT doc_id, COUNT(DISTINCT s)::BIGINT AS n_hits
    FROM train JOIN holdout USING (s)
    GROUP BY doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: training docs sharing ≥ 1 word-5-gram
    with the held-out benchmark sample (GPT-3-style overlap check; the
    holdout side broadcasts — operators/dedup.py::ngram_contamination)."""
    return dedup.ngram_contamination(
        load_table(spark, sf_dir, "documents"), holdout_pct=5, gram=5
    )


_AGREE16 = " + ".join(
    f"(CASE WHEN p.h{i} = c.h{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
)


@query(
    "dedup_incremental",
    f"""
    WITH words_t AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sh_t AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM words_t
    ),
    based AS (
        SELECT doc_id,
               {_H32.format(expr='s')} AS b1,
               {_H32.format(expr="'x:' || s")} AS b2
        FROM sh_t
    ),
    sigs AS (
        SELECT doc_id,
        {_SIG_COLS}
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT *,
        {_BAND_KEYS},
        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bkt
        FROM sigs
    ),
    banded AS (
        {_BAND_UNION.replace('FROM keyed', 'FROM keyed WHERE TRUE')}
    ),
    bandmix AS (
        SELECT k.doc_id, b.band, b.band_key, k.bkt,
               {', '.join(f'k.h{i}' for i in range(NUM_HASHES))}
        FROM keyed k JOIN banded b ON b.doc_id = k.doc_id
    )
    SELECT p.doc_id AS new_id, c.doc_id AS corpus_id,
           FLOOR(MAX(({_AGREE16})::DOUBLE / {NUM_HASHES})
                 * 1000000.0 + 0.5) / 1000000.0 AS est_sim
    FROM bandmix p JOIN bandmix c
      ON p.band = c.band AND p.band_key = c.band_key
     AND p.bkt >= 95 AND c.bkt < 95
    GROUP BY p.doc_id, c.doc_id
    HAVING MAX(({_AGREE16})::DOUBLE / {NUM_HASHES}) >= 0.5
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dup: the md5-bucket ≥ 95 slice plays the
    NEW batch, the rest is the indexed corpus.  Exercises the REAL
    persisted path — `persist_minhash_index` (band-partitioned, signatures
    denormalized) then `minhash_lookup` (new side broadcasts; similarity =
    signature agreement, no corpus text touched)."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    bkt = F.pmod(dedup.md5_hash32(F.col("doc_id").cast("string")), F.lit(100))
    corpus = d.filter(bkt < 95)
    new = d.filter(bkt >= 95)
    idx = tempfile.mkdtemp(prefix="fusionspark-mhidx-")
    try:
        dedup.persist_minhash_index(
            corpus, idx, num_hashes=NUM_HASHES, bands=BANDS
        )
        out = dedup.minhash_lookup(
            spark, new, idx, threshold=0.5,
            num_hashes=NUM_HASHES, bands=BANDS,
        )
        # r14: agreement/NUM_HASHES is k/16 — pure dyadic, the worst case
        # of the shortest-string ROUND class; round6_stable
        return out.select(
            "new_id",
            "corpus_id",
            textstats.round6_stable(F.col("est_sim")).alias("est_sim"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


_SHINGLES2 = (
    "list_transform(generate_series(1, greatest(len(words) - 1, 1)),"
    " i -> array_to_string(words[i:i+1], ' '))"
)
_GOPHER_PASS_SQL = f"""
    n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2
    AND bullet_frac <= 0.9 AND ell_frac <= 0.3
"""


@query(
    "corpus_funnel",
    f"""
    WITH base AS (
        SELECT doc_id, text, {_WORDS} AS words, md5(text) AS ch
        FROM documents
    ),
    m AS (
        SELECT ch,
            len(words) AS n_words,
            CASE WHEN len(words) > 0
                 THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE / len(words)
                 ELSE 0.0 END AS mwl,
            CASE WHEN len(words) > 0
                 THEN ((length(text) - length(replace(text, '#', '')))
                       + (length(text) - length(replace(text, '...', ''))) / 3
                      )::DOUBLE / len(words)
                 ELSE 0.0 END AS sym_ratio,
            CASE WHEN len(words) > 0
                 THEN len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                      / len(words)
                 ELSE 0.0 END AS alpha_ratio,
            len(list_intersect(list_distinct(words), {_GOPHER_STOPS_SQL})) AS stop_hits,
            {_LINE_FRACS_SQL},
            1.0::DOUBLE - len(list_distinct({_SHINGLES2}))::DOUBLE
                / len({_SHINGLES2}) AS dup_frac,
            least(1.0, len(words) / 50.0) * 0.5
              + least(1.0, CASE WHEN len(words) > 0
                           THEN len(list_filter(words, t -> list_contains({_STOP_SQL}, t)))::DOUBLE
                                / len(words) ELSE 0 END * 2) * 0.3
              + CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                          / length(text) ELSE 0 END * 0.2 AS quality
        FROM base
    ),
    flags AS (
        SELECT ch,
            CASE WHEN ({_GOPHER_PASS_SQL}) THEN 1 ELSE 0 END AS g,
            CASE WHEN dup_frac <= 0.9 THEN 1 ELSE 0 END AS lr,
            CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS q
        FROM m
    ),
    per_content AS (
        SELECT ch, COUNT(*) AS copies, MAX(g) AS g, MAX(lr) AS lr, MAX(q) AS q
        FROM flags GROUP BY ch
    )
    SELECT SUM(copies)::BIGINT AS total,
        COUNT(*)::BIGINT AS after_exact,
        SUM(g)::BIGINT AS after_gopher,
        SUM(CASE WHEN g = 1 AND lr = 1 THEN 1 ELSE 0 END)::BIGINT AS after_repetition,
        SUM(CASE WHEN g = 1 AND lr = 1 AND q = 1 THEN 1 ELSE 0 END)::BIGINT AS after_quality
    FROM per_content
    """,
)
def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-funnel report every corpus pipeline publishes: document
    counts surviving each cumulative stage — exact dedup, Gopher rules,
    repetition cap, composite quality.  Exact copies share identical rule
    outcomes (the rules are pure functions of the text), so the flags are
    computed ONCE per row, rolled up per content hash (map-side
    combinable; the shuffle carries 16-byte digests + three ints, never
    document text), and summed — two hash aggregations, no keeper window,
    no multi-distinct expand (which would re-evaluate the rule
    expressions once per distinct column)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from fusionspark.operators.dedup import _py_shingles

    d = load_table(spark, sf_dir, "documents")
    g = textstats.gopher_metrics("text")
    quality = textstats.quality_score("text")
    # Gopher + quality flags stay JVM-side column expressions; the 2-gram
    # repetition flag is ONE Arrow-batched map (Counter over _py_shingles,
    # the same kernel as textstats.repetition_stats_docs) — the nested
    # transform(sequence(...)) shingle HOF is CodegenFallback-interpreted
    # and was the whole cost of this query (4.1s → sub-second at sf0.1).
    flags_in = d.select(
        F.md5("text").alias("ch"),
        (g["passes"] == 1).cast("int").alias("g"),
        (quality >= 0.5).cast("int").alias("q"),
        "text",
    )
    out_schema = StructType(
        [
            StructField("ch", StringType()),
            StructField("g", IntegerType()),
            StructField("lr", IntegerType()),
            StructField("q", IntegerType()),
        ]
    )

    def add_repetition_flag(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            lr = []
            for text in pdf["text"]:
                c = Counter(_py_shingles(text, 2))
                total = sum(c.values())
                dup = 1.0 - len(c) / total if total else 0.0
                lr.append(1 if dup <= 0.9 else 0)
            yield pd.DataFrame(
                {"ch": pdf["ch"], "g": pdf["g"], "lr": lr, "q": pdf["q"]}
            )

    from fusionspark.io import spread

    # r15: rules + the repetition kernel are the heavy map - io.spread
    flags = spread(flags_in).mapInPandas(add_repetition_flag, schema=out_schema)
    per_content = flags.groupBy("ch").agg(
        F.count("*").alias("copies"),
        F.max("g").alias("g"),
        F.max("lr").alias("lr"),
        F.max("q").alias("q"),
    )
    one = F.lit(1)
    return per_content.agg(
        F.sum("copies").cast("long").alias("total"),
        F.count("*").cast("long").alias("after_exact"),
        F.sum("g").cast("long").alias("after_gopher"),
        F.sum(F.when((F.col("g") == 1) & (F.col("lr") == 1), one).otherwise(0))
        .cast("long")
        .alias("after_repetition"),
        F.sum(
            F.when(
                (F.col("g") == 1) & (F.col("lr") == 1) & (F.col("q") == 1), one
            ).otherwise(0)
        )
        .cast("long")
        .alias("after_quality"),
    )


# ── paragraph-level dedup (sub-document boilerplate removal) ──────────────

# Multi-paragraph synthetic corpus: the driver docs are single-line, so the
# query composes each document from a 50-paragraph pool (para p = first 80
# chars of doc p) under a closed-form law — doc d has 2 + d%3 paragraphs,
# paragraph i = pool[(d² + 11i) mod 50].  The quadratic law makes pool usage
# heavily skewed (quadratic residues mod 50), so a 5%-of-corpus document-
# frequency threshold genuinely splits boilerplate from content at every SF.
PARAGRAPH_DEDUP_ORACLE = """
    WITH pool AS (
        SELECT doc_id AS pool_id, substr(text, 1, 80) AS para
        FROM documents WHERE doc_id < 50
    ),
    parts AS (
        SELECT d.doc_id, i.i AS pos, p.para
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
        JOIN pool p ON p.pool_id = (d.doc_id * d.doc_id + 11 * i.i) % 50
        WHERE i.i < 2 + d.doc_id % 3
    ),
    freq AS (SELECT para, COUNT(DISTINCT doc_id) AS pdf FROM parts GROUP BY para),
    thr AS (SELECT COUNT(*) // 20 + 1 AS t FROM documents),
    kept AS (
        SELECT pr.doc_id, pr.pos, pr.para
        FROM parts pr JOIN freq f ON f.para = pr.para, thr
        WHERE f.pdf <= thr.t
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM parts GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(string_agg(k.para, chr(10) || chr(10) ORDER BY k.pos), '') AS text,
           COUNT(k.para)::BIGINT AS n_kept,
           (t.n_paras - COUNT(k.para))::BIGINT AS n_dropped
    FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, t.n_paras
    """


@query("paragraph_dedup", PARAGRAPH_DEDUP_ORACLE)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (dedup.paragraph_dedup), the RefinedWeb/CCNet
    boilerplate-removal pass whole-doc dedup can't do: paragraphs appearing
    in more than 5% of documents are dropped, survivors reassemble in
    order.  Plan shape: paragraph frequency groups on md5(para) (16-byte
    shuffle key), the verdict is a semi-join on the same digest, reassembly
    is one groupBy(id) + array_sort — no window over the corpus, no
    driver-side text."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pool = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("pool_id"), F.substring("text", 1, 80).alias("para")
    )
    synth = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(1) + F.col("doc_id") % 3)).alias("pos"),
        )
        .withColumn("pool_id", (F.col("doc_id") * F.col("doc_id") + 11 * F.col("pos")) % 50)
        .join(F.broadcast(pool), "pool_id")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("text")
        )
    )
    # 5%-of-corpus threshold: at 100 TB this is a config constant, not a
    # count() — the scalar job here is metadata-scale and keeps the query
    # sf-agnostic for the oracle.
    max_df = docs.count() // 20 + 1
    return dedup.paragraph_dedup(synth, max_df=max_df)


# ── trainable quality classifier (Naive Bayes, CCNet-style) ───────────────

_NB_POS = "('src0', 'src1', 'src2', 'src3', 'src4')"
_NB_NEG = "('src15', 'src16', 'src17', 'src18', 'src19')"

NB_QUALITY_ORACLE = f"""
    WITH words AS (
        SELECT doc_id,
               CASE WHEN source IN {_NB_POS} THEN 1 ELSE 0 END AS is_pos,
               CASE WHEN source IN {_NB_NEG} THEN 1 ELSE 0 END AS is_neg,
               w.w AS w
        FROM documents,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w(w)
    ),
    counts AS (
        SELECT w, SUM(is_pos)::BIGINT AS n_pos, SUM(is_neg)::BIGINT AS n_neg
        FROM words WHERE is_pos = 1 OR is_neg = 1 GROUP BY w
    ),
    totals AS (SELECT SUM(n_pos) AS t_pos, SUM(n_neg) AS t_neg, COUNT(*) AS v FROM counts),
    prior AS (
        SELECT ln(SUM(CASE WHEN source IN {_NB_POS} THEN 1 ELSE 0 END)::DOUBLE
                  / SUM(CASE WHEN source IN {_NB_NEG} THEN 1 ELSE 0 END)) AS p
        FROM documents
    ),
    weights AS (
        SELECT w, ln(n_pos + 1) - ln(t_pos + v) - ln(n_neg + 1) + ln(t_neg + v) AS weight
        FROM counts, totals
    ),
    raw AS (
        SELECT wo.doc_id, COUNT(*)::BIGINT AS n_tokens,
               MAX(p.p) + SUM(COALESCE(wt.weight,
                                       ln(t.t_neg + t.v) - ln(t.t_pos + t.v))) AS s
        FROM words wo
        LEFT JOIN weights wt ON wt.w = wo.w, totals t, prior p
        GROUP BY wo.doc_id
    )
    SELECT doc_id, n_tokens, ROUND(s, 6) AS nb_score,
           (CASE WHEN s > 0 THEN 1 ELSE 0 END)::INT AS quality_pred
    FROM raw
    """


@query("nb_quality", NB_QUALITY_ORACLE)
def nb_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier (textstats.nb_quality_scores), the
    CCNet/LLaMA-pipeline step: multinomial Naive Bayes trained on in-corpus
    strata (sources src0-4 as the curated class, src15-19 as the crawl
    class — Wikipedia-vs-CommonCrawl in production), scoring every document
    by smoothed log-likelihood ratio.  Training is two hash aggregations;
    scoring joins the token stream against the vocabulary-sized weight
    table, which broadcasts — the corpus never reshuffles."""
    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    neg = F.col("source").isin("src15", "src16", "src17", "src18", "src19")
    return textstats.nb_quality_scores(d, pos, neg)


# ── product quantization ADC search ───────────────────────────────────────

# m=4 subspaces × 16 dims, ksub=16 codes: every stage (normalize, codebook
# slice, argmin encode, ADC table, lookup-sum) is deterministic float64
# arithmetic, so DuckDB replays PQ training + encoding + search bit-for-bit.
ANN_PQ_ORACLE = """
    WITH nrm AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS e
        FROM embeddings
    ),
    cb AS (
        SELECT b.vec_id AS code_id, j.j AS j,
               b.e[j.j * 16 + 1 : (j.j + 1) * 16] AS c
        FROM (SELECT * FROM nrm ORDER BY vec_id ASC LIMIT 16) b
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
    ),
    codes AS (
        SELECT vec_id, j, code_id FROM (
            SELECT n.vec_id, cb.j, cb.code_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id, cb.j ORDER BY
                       list_distance(n.e[cb.j * 16 + 1 : (cb.j + 1) * 16], cb.c) ASC,
                       cb.code_id ASC) AS rn
            FROM nrm n CROSS JOIN cb
        ) WHERE rn = 1
    ),
    probes AS (SELECT vec_id AS probe_id, e FROM nrm ORDER BY vec_id ASC LIMIT 5),
    tbl AS (
        SELECT p.probe_id, cb.j, cb.code_id,
               list_inner_product(p.e[cb.j * 16 + 1 : (cb.j + 1) * 16], cb.c) AS t
        FROM probes p CROSS JOIN cb
    ),
    scored AS (
        SELECT t.probe_id, c.vec_id, SUM(t.t) AS asim
        FROM codes c JOIN tbl t ON t.j = c.j AND t.code_id = c.code_id
        GROUP BY t.probe_id, c.vec_id
    )
    SELECT probe_id, vec_id, ROUND(asim, 6) AS asim, rnk FROM (
        SELECT probe_id, vec_id, asim,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY asim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """


@query("ann_pq", ANN_PQ_ORACLE)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (ann.pq_codebooks/pq_encode/
    pq_adc_topk — Jégou et al. 2011): vectors compress to m=4 one-byte
    codes, probes score via per-probe inner-product tables, and NO vector
    payload is read at search time — the 32-64× scan-IO reduction that
    makes ANN affordable at 100 TB.  Encoding is a zero-shuffle Arrow map;
    the only shuffle carries (probe_id, id, asim) partial top-ks.  The
    oracle replays training, encoding, and ADC arithmetically."""
    from fusionspark.operators.ann import pq_adc_topk, pq_codebooks, pq_encode

    e = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(e, m=4, ksub=16)
    codes = pq_encode(e, cbs)
    probes = self_probes(e, 5)
    return pq_adc_topk(codes, probes, cbs, k=10).select(
        "probe_id", "vec_id", F.round("asim", 6).alias("asim"),
        F.col("rnk").cast("long").alias("rnk"),
    )


# ── WARC source (Common Crawl-style ingestion) ────────────────────────────

WARC_INGEST_ORACLE = """
    SELECT doc_id,
           'https://corpus.example/' || source || '/' || doc_id AS url,
           'text/plain' AS mime,
           200::INT AS http_status,
           length(text)::BIGINT AS n_bytes,
           md5(text) AS body_md5
    FROM documents
    """


@query("warc_ingest", WARC_INGEST_ORACLE)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end, oracle-attested: the corpus is written as
    REAL WARC 1.0 files (8 gzipped segments, one warcinfo + response
    records with full HTTP messages — operators/warc.py), read back
    through the binaryFile source + Arrow record parser, and reduced to
    the columns downstream dedup/quality stages key on.  The oracle
    replays the record laws from the documents table; a hash match
    certifies writer, parser, HTTP splitting, and the url round trip.
    Scale shape: files are the split unit (the Common Crawl layout) —
    parallelism across segments, zero shuffle."""
    import hashlib
    import os
    import tempfile

    from fusionspark.operators import warc as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # deterministic segment layout under a per-(sf,count) temp key: write
    # once, reuse across calls — the ingest under test is the READ path
    n_docs = d.count()
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(
        tempfile.gettempdir(), f"fusionspark-warc-{key}-{n_docs}"
    )
    marker = os.path.join(root, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        rows = d.collect()
        segments: dict[int, list] = {i: [] for i in range(8)}
        for r in rows:
            segments[r["doc_id"] % 8].append(r)
        for seg, rs in segments.items():
            recs = [{
                "type": "warcinfo",
                "record_id": f"<urn:uuid:warcinfo-{seg}>",
                "payload": b"software: fusionspark-warc-writer",
            }]
            for r in sorted(rs, key=lambda r: r["doc_id"]):
                recs.append({
                    "type": "response",
                    "record_id": f"<urn:uuid:doc-{r['doc_id']}>",
                    "uri": f"https://corpus.example/{r['source']}/{r['doc_id']}",
                    "date": "2026-01-01T00:00:00Z",
                    "mime": "text/plain",
                    "http": True,
                    "payload": r["text"].encode(),
                })
            with open(os.path.join(root, f"segment-{seg}.warc.gz"), "wb") as f:
                f.write(W.warc_write(recs, compress=True))
        open(marker, "w").close()

    docs = W.warc_documents(spark, root)
    return docs.select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        "url",
        F.split("mime", ";").getItem(0).alias("mime"),
        "http_status",
        "n_bytes",
        F.md5("body").alias("body_md5"),
    )


# ── IVF-PQ combined (coarse routing + ADC inside routed lists) ────────────

ANN_IVF_PQ_ORACLE = """
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings ORDER BY vec_id ASC LIMIT 8
    ),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                       c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    nrm AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS e
        FROM embeddings
    ),
    cb AS (
        SELECT b.vec_id AS code_id, j.j AS j,
               b.e[j.j * 16 + 1 : (j.j + 1) * 16] AS c
        FROM (SELECT * FROM nrm ORDER BY vec_id ASC LIMIT 16) b
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
    ),
    codes AS (
        SELECT vec_id, j, code_id FROM (
            SELECT n.vec_id, cb.j, cb.code_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id, cb.j ORDER BY
                       list_distance(n.e[cb.j * 16 + 1 : (cb.j + 1) * 16], cb.c) ASC,
                       cb.code_id ASC) AS rn
            FROM nrm n CROSS JOIN cb
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT p.vec_id AS probe_id, p.embedding AS probe_embedding, n.e
        FROM (SELECT * FROM embeddings ORDER BY vec_id ASC LIMIT 5) p
        JOIN nrm n ON n.vec_id = p.vec_id
    ),
    probe_lists AS (
        SELECT probe_id, centroid_id FROM (
            SELECT p.probe_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
                       list_cosine_similarity(p.probe_embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                       c.centroid_id ASC) AS rn
            FROM probes p CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    tbl AS (
        SELECT p.probe_id, cb.j, cb.code_id,
               list_inner_product(p.e[cb.j * 16 + 1 : (cb.j + 1) * 16], cb.c) AS t
        FROM probes p CROSS JOIN cb
    ),
    scored AS (
        SELECT pl.probe_id, a.vec_id, SUM(t.t) AS asim
        FROM assigned a
        JOIN probe_lists pl ON a.centroid_id = pl.centroid_id
        JOIN codes c ON c.vec_id = a.vec_id
        JOIN tbl t ON t.probe_id = pl.probe_id AND t.j = c.j AND t.code_id = c.code_id
        GROUP BY pl.probe_id, a.vec_id
    )
    SELECT probe_id, vec_id, ROUND(asim, 6) AS asim, rnk FROM (
        SELECT probe_id, vec_id, asim,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY asim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """


@query("ann_ivf_pq", ANN_IVF_PQ_ORACLE)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ combined, oracle-attested: the coarse quantizer routes each
    probe to its nProbe=2 lists (same deterministic 8-centroid contract as
    ann_ivf) and ADC scores ONLY the codes in those lists via the per-list
    routing in pq_adc_topk — the full production search minus the refine
    stage (attested separately via ann_pq + the refine tests).  No vector
    payload is read during scoring; the corpus never reshuffles."""
    from fusionspark.operators.ann import (
        _assign_from_rows,
        _collect_centroids,
        _route_probes,
        deterministic_centroids,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    e = load_table(spark, sf_dir, "embeddings")
    crows = _collect_centroids(deterministic_centroids(e, 8))
    assigned = _assign_from_rows(e, crows, "embedding")
    cbs = pq_codebooks(e, m=4, ksub=16)
    codes = pq_encode(assigned, cbs, extra_cols=["centroid_id"])
    probes = self_probes(e, 5)
    recs = _route_probes(probes, crows, 2, "probe_id", "probe_embedding")
    adc = pq_adc_topk(codes, probes, cbs, k=10, routing_recs=recs)
    return adc.select(
        "probe_id", "vec_id", F.round("asim", 6).alias("asim"),
        F.col("rnk").cast("long").alias("rnk"),
    )


# ── BPE tokenizer induction (rows-only: iterated argmax is not SQL) ──

#: merge tables are deterministic per corpus — train once per sf_dir and
#: reuse (the production shape: the tokenizer is a build artifact, not
#: per-query work)
_BPE_CACHE: dict[str, list] = {}


def _bpe_merges_cached(spark, sf_dir: str, d):
    merges = _BPE_CACHE.get(sf_dir)
    if merges is None:
        from fusionspark.operators.bpe import bpe_train

        merges = bpe_train(d, n_merges=16)
        _BPE_CACHE[sf_dir] = merges
    return merges



# BPE oracle (VERDICT r6 #4): the 16 merge rounds UNROLL as chained CTEs
# (the pagerank_docs/markov_stationary discipline).  The key identity: the
# reference's left-to-right non-overlapping pair merge (_merge_seq,
# operators/bpe.py:48-60) is exactly SQL replace() semantics once each
# word's symbol sequence is encoded as a chr(1)-delimited string
# (⟨s⟩ = chr(1)||s||chr(1), so the pair (a,b) is the substring ⟨a⟩⟨b⟩ and
# replace(enc, ⟨a⟩⟨b⟩, ⟨ab⟩) replays the merge bit-for-bit — overlapping
# runs like [a,a,a] consume left-to-right in both engines).  Each round:
# weighted adjacent-pair counts from the encoded vocab, argmax with the
# (total DESC, a, b) tie rule and the min_pair_count>=2 stop (an empty
# best_r leaves the vocab unchanged, so all later rounds stay empty —
# the Python `break`).
def _bpe_round_ctes(n_merges: int) -> str:
    S = "chr(1)"
    rounds = []
    for r in range(1, n_merges + 1):
        p = r - 1
        rounds.append(f"""
    pairs_{r} AS MATERIALIZED (
        SELECT arr[i] AS a, arr[i + 1] AS b, SUM(cnt)::BIGINT AS total
        FROM (SELECT cnt, string_split(trim(enc, {S}), {S} || {S}) AS arr
              FROM vocab_{p}),
             LATERAL unnest(generate_series(1, len(arr) - 1)) AS g(i)
        GROUP BY 1, 2
    ),
    best_{r} AS MATERIALIZED (
        SELECT a, b, total FROM pairs_{r} WHERE total >= 2
        ORDER BY total DESC, a ASC, b ASC LIMIT 1
    ),
    vocab_{r} AS MATERIALIZED (
        SELECT v.w, v.cnt,
               CASE WHEN b.a IS NULL THEN v.enc
                    ELSE replace(v.enc,
                                 {S} || b.a || {S} || {S} || b.b || {S},
                                 {S} || b.a || b.b || {S})
               END AS enc
        FROM vocab_{p} v LEFT JOIN best_{r} b ON TRUE
    )""")
    return ",".join(rounds)


def _bpe_vocab_prefix() -> str:
    S = "chr(1)"
    return f"""
    WITH words0 AS (
        SELECT w, COUNT(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY w
    ),
    vocab_0 AS MATERIALIZED (
        SELECT w, cnt,
               regexp_replace(w, '(.)', {S} || '\\1' || {S}, 'g')
                   || {S} || '</w>' || {S} AS enc
        FROM words0
    ),"""


_BPE_N_MERGES = 16

_BPE_MERGES_ORACLE = (
    _bpe_vocab_prefix()
    + _bpe_round_ctes(_BPE_N_MERGES)
    + ",\n    allbest AS ("
    + "\n        UNION ALL ".join(
        f"SELECT {r} AS round, a, b, total FROM best_{r}"
        for r in range(1, _BPE_N_MERGES + 1)
    )
    + """
    )
    SELECT (ROW_NUMBER() OVER (ORDER BY round) - 1)::BIGINT AS "rank",
           a AS "left", b AS "right", total AS pair_count
    FROM allbest
    """
)


@query("bpe_merges", _BPE_MERGES_ORACLE)
def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (operators/bpe.py — Sennrich
    et al. 2016): ONE corpus-sized word-frequency aggregation, then every
    merge round runs on the vocabulary-sized table (weighted pair explode +
    hash agg + one argmax scalar to the driver — the merge list is
    inherently sequential).  The oracle unrolls the 16 rounds as chained
    CTEs with replace() replaying _merge_seq (see _BPE_MERGES_ORACLE);
    the bit-exact pure-Python parity test in tests/test_bpe.py remains."""
    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir, d)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


# bpe_tokenize oracle: greedy lowest-rank-first encoding of a word that IS
# in the training vocabulary equals the training fold's final state for
# that word (a merge can only create pairs consumed by HIGHER-rank merges,
# since a lower-rank merge's parts must have existed before the higher rank
# was learned — so rank-order application = greedy lowest-first), and every
# corpus word is in the vocab by construction.  n_tokens per doc = Σ symbol
# counts of each word's final encoding; the md5 is over the bare token
# concatenation, which is segmentation-invariant: concat of a word's
# subword symbols = word || '</w>'.
_BPE_TOKENIZE_ORACLE = (
    _bpe_vocab_prefix()
    + _bpe_round_ctes(_BPE_N_MERGES)
    + f""",
    docwords AS (
        SELECT doc_id, i, arr[i] AS w
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS arr
              FROM documents),
             LATERAL unnest(generate_series(1, len(arr))) AS g(i)
        WHERE arr[i] <> ''
    )
    SELECT d.doc_id,
           SUM(len(string_split(trim(v.enc, chr(1)), chr(1) || chr(1))))::BIGINT
               AS n_tokens,
           md5(string_agg(d.w || '</w>', '' ORDER BY d.i)) AS tokens_md5
    FROM docwords d JOIN vocab_{_BPE_N_MERGES} v ON v.w = d.w
    GROUP BY d.doc_id
    """
)


@query("bpe_tokenize", _BPE_TOKENIZE_ORACLE)
def bpe_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus under the learned merges (zero-shuffle Arrow map,
    merge ranks broadcast in the closure) — per-doc subword token counts,
    the statistic sequence-packing and curriculum stages consume.  Oracle:
    the final unrolled-vocab state IS each in-vocab word's greedy encoding
    (see _BPE_TOKENIZE_ORACLE)."""
    from fusionspark.operators.bpe import bpe_encode

    d = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(d, _bpe_merges_cached(spark, sf_dir, d))
    return enc.select(
        "doc_id", "n_tokens", F.md5(F.concat_ws("", "tokens")).alias("tokens_md5")
    )


# ── curriculum sharding (quality-ordered data ordering) ──────────────────

_QUALITY_EXPR_SQL = f"""
        least(1.0, n_tokens / 50.0) * 0.5
        + least(1.0, CASE WHEN n_tokens > 0
                     THEN n_stop::DOUBLE / n_tokens ELSE 0 END * 2) * 0.3
        + CASE WHEN length(text) > 0
               THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                    / length(text) ELSE 0 END * 0.2
"""


@query(
    "curriculum_shards",
    f"""
    WITH q AS (
        SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality
        FROM (
            SELECT doc_id, text, len(words) AS n_tokens,
                   len(list_filter(words, t -> list_contains({{stops}}, t))) AS n_stop
            FROM (SELECT doc_id, text, {{words}} AS words FROM documents)
        )
    ),
    sh AS (
        SELECT doc_id, quality,
               NTILE(8) OVER (ORDER BY quality ASC, doc_id ASC) AS shard
        FROM q
    )
    SELECT shard::INT AS shard, COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(quality), 6) AS avg_quality,
           ROUND(MIN(quality), 6) AS min_quality,
           ROUND(MAX(quality), 6) AS max_quality
    FROM sh GROUP BY shard
    """.replace("{stops}", _STOP_SQL).replace("{words}", _WORDS),
)
def curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: documents ranked by the composite quality
    score into 8 equal shards (train easy→hard or hard→easy).  The ntile
    here is the oracle-exact form; at 100 TB swap the global sort for
    approx_percentile boundaries + a broadcast range join — same shard
    semantics within quantile-sketch error, no total order."""
    from fusionspark.operators.ranking import ntile_exact

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", textstats.quality_score("text").alias("quality")
    )
    # r13: grid-form NTILE (operators/ranking.py) — same output as the
    # oracle's NTILE(8) global sort, no unpartitioned raw-row window
    sh = ntile_exact(q, 8, "quality", "doc_id", "shard")
    return sh.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
    )


# ── bigram LM perplexity (CCNet-style quality signal) ────────────────────

LM_PERPLEXITY_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    bgl AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(ws) - 1, 0)),
                   i -> ws[i] || chr(1) || ws[i + 1])) AS b
        FROM ws
    ),
    bgc AS (SELECT b, COUNT(*)::BIGINT AS c12 FROM bgl GROUP BY b),
    uni AS (
        SELECT w.w AS w, COUNT(*)::BIGINT AS c1
        FROM ws, unnest(ws.ws) AS w(w) GROUP BY w.w
    ),
    vv AS (SELECT COUNT(*)::BIGINT AS v FROM uni),
    scored AS (
        SELECT l.doc_id,
               ln(bgc.c12 + 1.0) - ln(uni.c1 + 1.0 * vv.v) AS lp
        FROM bgl l
        JOIN bgc ON bgc.b = l.b
        JOIN uni ON uni.w = split_part(l.b, chr(1), 1), vv
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, SUM(lp) AS sum_lp
        FROM scored GROUP BY doc_id
    )
    SELECT w.doc_id,
           COALESCE(p.n_bigrams, 0)::BIGINT AS n_bigrams,
           ROUND(COALESCE(p.sum_lp / p.n_bigrams, 0.0), 6) AS avg_logprob,
           ROUND(exp(-COALESCE(p.sum_lp / p.n_bigrams, 0.0)), 6) AS perplexity
    FROM ws w LEFT JOIN per_doc p ON p.doc_id = w.doc_id
    """


@query("lm_perplexity", LM_PERPLEXITY_ORACLE)
def lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM perplexity (textstats.lm_perplexity_scores), the
    CCNet-style quality signal (Wenzek et al. 2020): train add-1 bigram
    counts on the corpus with two hash aggregations, score each document
    by mean bigram log-probability joined against the BROADCAST count
    tables — the corpus never reshuffles.  Complements the rule-based
    (gopher/c4), heuristic (quality_score), and discriminative
    (nb_quality) filters with the generative-model member of the family."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.lm_perplexity_scores(d)


# ── deterministic training shuffle (shard + in-shard order) ──────────────

SHUFFLE_SHARDS_ORACLE = """
    SELECT doc_id,
           (('0x' || substr(md5('shuf:' || doc_id), 1, 8))::BIGINT % 16)::INT AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(md5('shuf:' || doc_id), 1, 8))::BIGINT % 16
               ORDER BY md5('shuf:' || doc_id), doc_id
           )::BIGINT AS pos
    FROM documents
    """


@query("shuffle_shards", SHUFFLE_SHARDS_ORACLE)
def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a shard
    (md5 bucket — training shards are written shard-at-a-time) and a
    reproducible in-shard position (ordered by the same md5).  Unlike
    rand(), the permutation is stable under re-runs, retries, and
    repartitioning — the property a resumable data loader needs.  The
    only shuffle is the per-shard window, whose partition count equals
    the shard count by construction."""
    from pyspark.sql import Window

    from fusionspark.operators.dedup import md5_hash32

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    sharded = d.select(
        "doc_id",
        h.alias("h"),
        F.pmod(md5_hash32(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))), F.lit(16))
        .cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


# ── quality consensus (all four quality families in ONE plan) ────────────

QUALITY_CONSENSUS_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, text, {_WORDS} AS words FROM documents
    ),
    gm AS (
        SELECT doc_id,
            len(words) AS n_words,
            CASE WHEN len(words) > 0
                 THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE / len(words)
                 ELSE 0.0 END AS mwl,
            CASE WHEN len(words) > 0
                 THEN ((length(text) - length(replace(text, '#', '')))
                       + (length(text) - length(replace(text, '...', ''))) / 3
                      )::DOUBLE / len(words)
                 ELSE 0.0 END AS sym_ratio,
            CASE WHEN len(words) > 0
                 THEN len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                      / len(words)
                 ELSE 0.0 END AS alpha_ratio,
            len(list_intersect(list_distinct(words), {_GOPHER_STOPS_SQL})) AS stop_hits,
            {_LINE_FRACS_SQL}
        FROM t
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN ({_GOPHER_PASS_SQL}) THEN 1 ELSE 0 END AS gopher_pass
        FROM gm
    ),
    c4 AS (
        SELECT doc_id,
               CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                     AND NOT contains(text, '{{')
                     AND NOT contains(lower(text), 'lorem ipsum')
                    THEN 1 ELSE 0 END AS c4_pass
        FROM documents
    ),
    nb AS (
        SELECT doc_id, quality_pred AS nb_pass FROM ({NB_QUALITY_ORACLE})
    ),
    lm AS (
        SELECT doc_id,
               CASE WHEN perplexity <= 30.1 THEN 1 ELSE 0 END AS lm_pass
        FROM ({LM_PERPLEXITY_ORACLE})
    )
    SELECT g.doc_id, g.gopher_pass, c4.c4_pass, nb.nb_pass, lm.lm_pass,
           (g.gopher_pass + c4.c4_pass + nb.nb_pass + lm.lm_pass)::INT AS consensus
    FROM g
    JOIN c4 ON c4.doc_id = g.doc_id
    JOIN nb ON nb.doc_id = g.doc_id
    JOIN lm ON lm.doc_id = g.doc_id
    """


@query("quality_consensus", QUALITY_CONSENSUS_ORACLE)
def quality_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four quality families — rule-based (Gopher), heuristic-rule
    (C4), discriminative (Naive Bayes), generative (bigram LM perplexity)
    — voted in ONE composed plan: the ensemble filter real pipelines ship
    (no single family survives contact with a crawl).  Each member keeps
    its attested plan shape (expression-only rules; broadcast model
    joins); the ensemble adds only doc_id equi-joins."""
    d = load_table(spark, sf_dir, "documents")
    g = textstats.gopher_metrics("text")
    c = textstats.c4_metrics("text")
    rules = d.select(
        "doc_id",
        (g["passes"] == 1).cast("int").alias("gopher_pass"),
        c["passes"].cast("int").alias("c4_pass"),
    )
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    neg = F.col("source").isin("src15", "src16", "src17", "src18", "src19")
    nb = textstats.nb_quality_scores(d, pos, neg).select(
        "doc_id", F.col("quality_pred").alias("nb_pass")
    )
    lm = textstats.lm_perplexity_scores(d).select(
        "doc_id",
        (F.col("perplexity") <= 30.1).cast("int").alias("lm_pass"),
    )
    return (
        rules.join(nb, "doc_id")
        .join(lm, "doc_id")
        .select(
            "doc_id", "gopher_pass", "c4_pass", "nb_pass", "lm_pass",
            (
                F.col("gopher_pass") + F.col("c4_pass")
                + F.col("nb_pass") + F.col("lm_pass")
            ).cast("int").alias("consensus"),
        )
    )


# ── unicode hygiene + entropy quality signals ─────────────────────────────

# Deterministic dirt injected per doc_id so the cleanup has real work at
# every SF (driver text is plain ASCII): NFD sequence / control +
# zero-width chars / NBSP + space runs + trailing space / untouched.
_DIRTY_SQL = """
dirty AS (
    SELECT doc_id, text || CASE doc_id % 4
        WHEN 0 THEN ' cafe' || chr(769)
        WHEN 1 THEN ' x' || chr(1) || chr(8203) || 'y'
        WHEN 2 THEN chr(160) || 'pad  end '
        ELSE '' END AS text
    FROM documents
)
"""


@query(
    "unicode_clean",
    f"WITH {_DIRTY_SQL.strip()},\n"
    r"""
    cleaned AS (
        SELECT doc_id, text,
               trim(regexp_replace(replace(regexp_replace(nfc_normalize(text),
                    '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
                    '', 'g'), chr(160), ' '), ' {2,}', ' ', 'g'), ' ') AS clean_text
        FROM dirty
    )
    SELECT doc_id, clean_text,
           length(text)::BIGINT AS n_before,
           length(clean_text)::BIGINT AS n_after,
           clean_text <> text AS changed
    FROM cleaned
    """,
)
def unicode_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene (ftfy-lite) on REAL `unicodedata` NFC,
    cross-validated against DuckDB's independent `nfc_normalize`: the two
    engines implement the Unicode composition tables separately, so a hash
    match attests the whole cleanup law (NFC → control/zero-width strip →
    NBSP → space-run collapse → trim), not a shared implementation.
    Zero-shuffle Arrow map — the first stage of any crawl pipeline."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    dirty = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(m == 0, F.lit(" cafe\u0301"))
            .when(m == 1, F.lit(" x\x01\u200by"))
            .when(m == 2, F.lit("\u00a0pad  end "))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.unicode_clean_docs(dirty)


@query(
    "char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS n FROM chars GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(n) AS t, count(*) AS dc FROM cnt GROUP BY doc_id)
    SELECT t.doc_id,
           t.t::BIGINT AS n_chars,
           t.dc::BIGINT AS distinct_chars,
           ROUND(-SUM((c.n / t.t) * log2(c.n / t.t)), 6) AS char_entropy
    FROM tot t JOIN cnt c ON c.doc_id = t.doc_id
    GROUP BY t.doc_id, t.t, t.dc
    """,
)
def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish detector: ONE zero-shuffle Arrow map on
    the Spark side vs the explode→double-groupBy formulation in DuckDB —
    a hash match proves the cheap plan computes the expensive plan's
    answer.  (At 100 TB the oracle's shape would shuffle every character
    occurrence twice; the kernel shuffles nothing.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.char_entropy_docs(docs)


@query(
    "hll_distinct",
    f"""
    WITH vals AS (
        SELECT w || '#' || (doc_id % 32)::VARCHAR AS v
        FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)
    ),
    rb AS (
        SELECT (h // 16777216)::INT AS bucket,
               (length(regexp_extract(lpad(bin(h % 16777216), 24, '0'),
                                      '^0*', 0)) + 1)::INT AS rho
        FROM (SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT AS h FROM vals)
    ),
    regs AS (SELECT bucket, MAX(rho) AS register FROM rb GROUP BY bucket),
    allb AS (SELECT unnest(generate_series(0, 255))::INT AS bucket),
    filled AS (
        SELECT a.bucket, COALESCE(r.register, 0) AS register
        FROM allb a LEFT JOIN regs r ON r.bucket = a.bucket
    ),
    agg AS (
        SELECT SUM(power(2.0, -register)) AS z,
               SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END)::BIGINT AS v
        FROM filled
    ),
    est AS (
        SELECT CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
                         <= 2.5 * 256.0 AND v > 0
                    THEN 256.0 * ln(256.0 / v)
                    ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
               END AS estimate
        FROM agg
    ),
    exact AS (SELECT COUNT(DISTINCT v)::BIGINT AS n_exact FROM vals)
    SELECT n_exact, ROUND(estimate, 6) AS hll_estimate,
           ROUND(abs(estimate - n_exact) / n_exact, 6) AS rel_err
    FROM exact, est
    """,
)
def hll_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (operators/sketches.py, p=8) counting
    distinct (word, doc-bucket) pairs: the md5-defined registers are
    replayed BIT-FOR-BIT by the oracle (bucket ids, leading-zero ranks,
    max-registers, the Σ2^−M estimate — exact dyadic arithmetic — and the
    linear-counting branch), so the sketch itself is attested, not just a
    row count.  Registers are 256 ints regardless of corpus size and merge
    by positional max — the 100 TB cardinality bookkeeping shape."""
    from fusionspark.operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vals = docs.select(
        F.explode(tokenize("text")).alias("w"), F.col("doc_id")
    ).select(F.concat("w", F.lit("#"), (F.col("doc_id") % 32).cast("string")).alias("v"))
    return hll_distinct(vals, F.col("v"), p=8)


@query(
    "train_split",
    """
    WITH assigned AS (
        SELECT source,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT source,
                   ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                   % 100 AS b
            FROM documents
        )
    )
    SELECT source, split, COUNT(*)::BIGINT AS n_docs
    FROM assigned GROUP BY source, split
    """,
)
def train_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratifiable train/val/test split
    (packing.assign_split, 80/10/10): per-(source, split) counts.  The
    assignment is zero-shuffle; only the count rollup exchanges."""
    from fusionspark.operators.packing import assign_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_split(docs).groupBy("source", "split").agg(
        F.count("*").alias("n_docs")
    )


@query(
    "label_centroids",
    """
    SELECT label, k.k AS dim,
           ROUND(AVG(embedding[k.k]::DOUBLE), 6) AS mean
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 64))::INT AS k) k
    GROUP BY label, k.k
    """,
)
def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format
    (embeddings.label_centroids): Arrow partial sums per partition, one
    tiny groupBy(label, dim) finish — the oracle's explode→groupBy plan is
    exactly the elementwise shuffle the kernel avoids."""
    from fusionspark.operators.embeddings import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    out = label_centroids(emb)
    return out.select("label", "dim", F.round("mean", 6).alias("mean"))


@query(
    "embedding_outliers",
    """
    WITH cent AS (
        SELECT label, k.k AS dim, AVG(embedding[k.k]::DOUBLE) AS m
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, 64))::INT AS k) k
        GROUP BY label, k.k
    ),
    sims AS (
        SELECT e.vec_id, e.label,
               SUM(e.embedding[c.dim]::DOUBLE * c.m) AS sim
        FROM embeddings e JOIN cent c ON c.label = e.label
        GROUP BY e.vec_id, e.label
    ),
    stats AS (
        SELECT COUNT(*)::DOUBLE AS cnt, SUM(sim) AS s1, SUM(sim * sim) AS s2
        FROM sims
    )
    SELECT vec_id, label, ROUND(sim, 6) AS sim,
           ROUND((sim - s1 / cnt)
                 / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1.0)), 6) AS z
    FROM sims, stats
    WHERE abs(ROUND((sim - s1 / cnt)
                    / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1.0)), 6)) > 1.5
    """,
)
def embedding_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-similarity outliers (embeddings.centroid_outliers,
    |z| > 1.5 — the SemDedup prototypicality signal; the corpus is
    unit-normalized so NORM outliers are degenerate here, and
    norm_outliers is covered by pytest on a non-normalized frame): tiny
    centroid table broadcasts, mean/std is ONE 1-row closed-form
    aggregate broadcast back, membership filters on the ROUNDED z so the
    cut is float-order-stable across engines."""
    from fusionspark.operators.embeddings import centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, dim=64, z_threshold=1.5)


# 8-token boilerplate appended to every 5th doc so window-level dedup has
# real duplicated spans to find at every SF (driver text is word salad —
# cross-document 8-gram collisions would otherwise be vanishingly rare)
_BOILER = "subscribe to our newsletter for updates today now"


@query(
    "window_dedup",
    f"""
    WITH dirty AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                            THEN ' {_BOILER}' ELSE '' END AS text
        FROM documents
    ),
    wd AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        FROM dirty
    ),
    wins AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(words) - 7, 1), 4),
                   i -> md5(array_to_string(words[i:i+7], ' ')))) AS h
        FROM wd
    ),
    freq AS (SELECT h, COUNT(*) AS n FROM wins GROUP BY h),
    per_doc AS (
        SELECT w.doc_id, COUNT(*)::BIGINT AS n_windows,
               SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup
        FROM wins w JOIN freq f ON f.h = w.h
        GROUP BY w.doc_id
    )
    SELECT doc_id, n_windows, n_dup,
           ROUND(n_dup::DOUBLE / n_windows, 6) AS dup_frac
    FROM per_doc
    """,
)
def window_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate token-window spans (dedup.window_dup_stats, w=8 stride=4)
    — the substring-granular member of the dedup family (Lee et al. 2022
    as bucketed hashing instead of suffix arrays).  Boilerplate is
    injected deterministically on every 5th doc so the detector has real
    work; windows shuffle as 16-byte digests only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" " + _BOILER))
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.window_dup_stats(dirty, w=8, stride=4)


@query(
    "compression_ratio",
    """
    WITH derived AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN repeat(substr(text || 'abcdefghij', 1, 64), 32)
                    ELSE array_to_string(list_transform(generate_series(0, 31),
                         i -> md5(doc_id::VARCHAR || ':' || i::VARCHAR)), '')
               END AS dtext
        FROM documents
    )
    SELECT doc_id,
           strlen(dtext)::BIGINT AS n_bytes,
           (strlen(dtext) + 11)::BIGINT AS n_stored,
           CASE WHEN doc_id % 2 = 0 THEN 'repetitive' ELSE 'normal' END AS bucket
    FROM derived
    """,
)
def compression_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib redundancy signal (RefinedWeb/MassiveText drop docs that
    compress too well or too poorly), converted from the registry's last
    rows-only entry to oracle-backed via the line_dedup derived-corpus
    pattern: no SQL engine exposes zlib, so the query derives a corpus
    whose expected output is determined BY CONSTRUCTION and attests the
    real zlib output against it —

    - even doc_ids become a ≤64-byte unit repeated ×32 (level-6 ratio
      ≲ 0.06 — measured 0.044 on the longest unit) and odd doc_ids a
      32×md5 hex-noise chain (4-bit/char alphabet, ratio ≳ 0.5 — measured
      0.56), so the 0.25 ``bucket`` threshold sits ≥4× from both sides
      and classifies every doc correctly for ANY conforming DEFLATE;
    - ``n_stored`` is the REAL ``len(zlib.compress(raw, 0))`` — stored-
      mode framing is length-determined (RFC 1950/1951: 2-byte header +
      5-byte block header + payload + 4-byte adler32 = n + 11 for the
      n < 65535 this corpus guarantees: max text 577 chars → ≤ 2048-byte
      derived docs), so the oracle attests exact compressed byte counts,
      not just the classification.

    The operator (textstats.compression_profile_docs) is input-agnostic;
    only the corpus is derived.  Level-6 bit-parity with direct Python
    zlib stays pytest-attested (test_pipeline_ops).  Scale: one zero-
    shuffle Arrow map."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    derived = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.repeat(F.substring(F.concat("text", F.lit("abcdefghij")), 1, 64), 32),
        )
        .otherwise(
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(31)),
                    lambda i: F.md5(
                        F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))
                    ),
                ),
            )
        )
        .alias("text"),
    )
    prof = textstats.compression_profile_docs(derived)
    return prof.select(
        "doc_id",
        "n_bytes",
        "n_stored",
        F.when(F.col("ratio") < 0.25, F.lit("repetitive"))
        .otherwise(F.lit("normal"))
        .alias("bucket"),
    )


@query(
    "bloom_probe",
    """
    WITH vals AS (SELECT md5(text) AS v FROM documents),
    pos AS (
        SELECT unnest([
            (h1 + 0 * h2) % 65536, (h1 + 1 * h2) % 65536,
            (h1 + 2 * h2) % 65536, (h1 + 3 * h2) % 65536]) AS pos
        FROM (
            SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5('b:' || v), 1, 8))::BIGINT AS h2
            FROM vals
        )
    ),
    words AS (
        SELECT (pos // 32)::INT AS word_idx,
               bit_or(1::BIGINT << (pos % 32)::INT) AS bits
        FROM pos GROUP BY (pos // 32)::INT
    ),
    probes AS (
        SELECT doc_id AS probe_id, md5(text) AS v, TRUE AS actual
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT 1000 + i.i, md5('novel:' || i.i::VARCHAR), FALSE
        FROM (SELECT unnest(generate_series(0, 49)) AS i) i
    ),
    ppos AS (
        SELECT probe_id, actual,
               unnest([(h1 + 0 * h2) % 65536, (h1 + 1 * h2) % 65536,
                       (h1 + 2 * h2) % 65536, (h1 + 3 * h2) % 65536]) AS pos
        FROM (
            SELECT probe_id, actual,
                   ('0x' || substr(md5(v), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5('b:' || v), 1, 8))::BIGINT AS h2
            FROM probes
        )
    )
    SELECT p.probe_id, p.actual,
           (MIN(CASE WHEN ((COALESCE(w.bits, 0) >> (p.pos % 32)::INT) % 2) = 1
                     THEN 1 ELSE 0 END) = 1) AS present
    FROM ppos p
    LEFT JOIN words w ON w.word_idx = (p.pos // 32)::INT
    GROUP BY p.probe_id, p.actual
    """,
)
def bloom_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/sketches.py): build an 8 KiB
    filter over the corpus content hashes, probe 50 known hashes + 50
    novel values.  The oracle replays every bit position, the word-packed
    OR, and the K-way membership test — any false positive appears
    IDENTICALLY on both engines (present ∧ ¬actual), so the sketch's
    exact behavior is attested, not idealized."""
    from fusionspark.operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bloom = bloom_build(docs.select(F.md5("text").alias("v")), F.col("v"))
    known = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("probe_id"),
        F.md5("text").alias("v"),
        F.lit(True).alias("actual"),
    )
    novel = spark.range(50).select(
        (F.col("id") + 1000).alias("probe_id"),
        F.md5(F.concat(F.lit("novel:"), F.col("id").cast("string"))).alias("v"),
        F.lit(False).alias("actual"),
    )
    probes = known.unionAll(novel)
    res = bloom_probe(bloom, probes, F.col("v"), "probe_id")
    return res.join(probes.select("probe_id", "actual"), "probe_id").select(
        "probe_id", "actual", "present"
    )


@query(
    "cms_topk",
    f"""
    WITH toks AS (
        SELECT unnest({_WORDS}) AS w FROM documents
    ),
    cells AS (
        SELECT row_i.i AS row, (h1 + row_i.i * h2) % 4096 AS col
        FROM (
            SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5('c:' || w), 1, 8))::BIGINT AS h2
            FROM toks
        )
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) row_i
    ),
    cms AS (SELECT row, col, COUNT(*)::BIGINT AS cnt FROM cells GROUP BY row, col),
    top AS (
        SELECT w, COUNT(*)::BIGINT AS true_count
        FROM toks GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT 20
    ),
    pcells AS (
        SELECT w, true_count, row_i.i AS row, (h1 + row_i.i * h2) % 4096 AS col
        FROM (
            SELECT w, true_count,
                   ('0x' || substr(md5(w), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5('c:' || w), 1, 8))::BIGINT AS h2
            FROM top
        )
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) row_i
    )
    SELECT p.w AS word, p.true_count,
           MIN(COALESCE(c.cnt, 0)) AS est_count,
           (MIN(COALESCE(c.cnt, 0)) - p.true_count)::BIGINT AS overshoot
    FROM pcells p
    LEFT JOIN cms c ON c.row = p.row AND c.col = p.col
    GROUP BY p.w, p.true_count
    """,
)
def cms_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation (operators/sketches.py) for the
    top-20 corpus words: the oracle replays every sketch cell and the
    min-over-depth estimate, so collision overshoot (est ≥ true, the CM
    guarantee) is attested exactly on both engines."""
    from fusionspark.operators.sketches import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.explode(tokenize("text")).alias("w"))
    cms = cms_build(toks, F.col("w"))
    top = (
        toks.groupBy("w").agg(F.count("*").alias("true_count"))
        .orderBy(F.desc("true_count"), "w").limit(20)
    )
    est = cms_estimate(cms, top, F.col("w"), "w")
    return (
        top.join(est, "w")
        .select(
            F.col("w").alias("word"), "true_count", "est_count",
            (F.col("est_count") - F.col("true_count")).cast("long").alias("overshoot"),
        )
    )


@query(
    "salted_join_demo",
    """
    WITH ev AS (
        SELECT event_id,
               CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END AS k,
               value
        FROM events
    ),
    dim AS (
        SELECT DISTINCT CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END AS k
        FROM events
    ),
    tagged AS (
        SELECT k, 'seg' || (('0x' || substr(md5(k::VARCHAR), 1, 8))::BIGINT % 4)::VARCHAR AS tag
        FROM dim
    )
    SELECT t.tag,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(e.value), 6) AS total_value
    FROM ev e JOIN tagged t ON t.k = e.k
    GROUP BY t.tag
    """,
)
def salted_join_demo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/joins.py): ~10% of events collapse
    onto hot key 0, the dimension side replicates 8×, the join runs on
    (key, salt) so the hot key spreads over 8 partitions.  The oracle is a
    PLAIN join — a hash match attests salt-invariance of the result.
    (AQE's runtime skew-join is on in this repo's sessions; this is the
    plan-level form for known skew / non-AQE paths.)"""
    from fusionspark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 == 0, F.lit(0).cast("long"))
        .otherwise(F.col("user_id")).alias("k"),
        "value",
    )
    dim = ev.select("k").distinct().select(
        "k",
        F.concat(F.lit("seg"), (md5_hash32(F.col("k").cast("string")) % 4).cast("string")).alias("tag"),
    )
    joined = salted_join(ev, dim, "k", F.col("event_id"), n_salt=8)
    return joined.groupBy("tag").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@query(
    "length_quantiles",
    """
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
           ROUND(quantile_cont(n_chars, 0.50), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS p75,
           ROUND(quantile_cont(n_chars, 0.95), 6) AS p95
    FROM documents GROUP BY lang
    """,
)
def length_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language length percentiles: Spark's `percentile`
    aggregate vs DuckDB's `quantile_cont` — both the linear-interpolation
    (type-7) definition, so the hash match is exact, not approximate.
    (The zero-shuffle approx_percentile path for 100 TB is the
    curriculum-sharding variant; this is the exact small-group form.)"""
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("n_chars", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("p95"),
    )


@query(
    "stratified_sample",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('strat:' || doc_id::VARCHAR), doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, doc_id FROM ranked WHERE rn <= 20
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-stratum sample (20 docs per language): rank by a
    salted md5 inside each stratum — a deterministic shuffle order, so the
    sample is reproducible across engines/partitionings AND uniformly
    random w.r.t. content (md5 is the coin).  This is how fixed-size eval
    sets are cut per domain; one window shuffle on the stratum key.
    Unlike hash_sample (rate-based), the output size is exact per group."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
    )


@query(
    "contrastive_negatives",
    """
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    anchors AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 50),
    cand AS (
        SELECT a.vec_id, a.label, j.j,
               (a.vec_id * 7 + j.j * 131) % (SELECT n FROM n) AS neg_id
        FROM anchors a
        CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j) j
    ),
    ok AS (
        SELECT c.vec_id, c.j, c.neg_id, e.label AS neg_label,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY c.j) AS rn
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.neg_id
        WHERE e.label <> c.label
    )
    SELECT vec_id, rn::INT AS rn, neg_id, neg_label
    FROM ok WHERE rn <= 4
    """,
)
def contrastive_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative mining for contrastive training: per anchor,
    8 md5-free arithmetic candidates (a·7 + j·131 mod N — reproducible
    across engines), label-mismatch filtered, first 4 kept in candidate
    order.  The candidate table is anchors × 8 rows — tiny — and joins
    the corpus on its id (broadcast); the corpus never self-joins."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = emb.count()
    anchors = emb.filter(F.col("vec_id") < 50)
    js = spark.range(1, 9).select(F.col("id").alias("j"))
    cand = anchors.crossJoin(js).select(
        "vec_id", "label", "j",
        ((F.col("vec_id") * 7 + F.col("j") * 131) % n).alias("neg_id"),
    )
    neg = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    ok = (
        cand.join(neg, "neg_id")
        .filter(F.col("neg_label") != F.col("label"))
    )
    w = Window.partitionBy("vec_id").orderBy("j")
    return (
        ok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select("vec_id", F.col("rn").cast("int").alias("rn"), "neg_id", "neg_label")
    )


@query(
    "window_dedup_rewrite",
    f"""
    WITH dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN '{_BOILER} ' || text ELSE text END AS text
        FROM documents
    ),
    wd AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        FROM dirty
    ),
    wins AS (
        SELECT doc_id, i.i AS widx,
               array_to_string(words[i.i:i.i+7], ' ') AS wtext
        FROM wd
        CROSS JOIN (SELECT unnest(generate_series(1, 500, 8)) AS i) i
        WHERE i.i <= greatest(len(words), 1)
          AND array_to_string(words[i.i:i.i+7], ' ') <> ''
    ),
    freq AS (SELECT md5(wtext) AS h, COUNT(*) AS n FROM wins GROUP BY md5(wtext))
    SELECT w.doc_id,
           COALESCE(string_agg(CASE WHEN f.n = 1 THEN w.wtext END,
                                ' ' ORDER BY w.widx), '') AS clean_text,
           SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           COUNT(*)::BIGINT AS n_windows
    FROM wins w JOIN freq f ON f.h = md5(w.wtext)
    GROUP BY w.doc_id
    """,
)
def window_dedup_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (dedup.window_dedup_rewrite, w=8
    non-overlapping): boilerplate is PREPENDED to every 5th doc (aligned
    to the window grid, so it is the same 8-token window corpus-wide),
    detected by corpus frequency, cut, and the survivors reassembled in
    order.  The report sibling is window_dedup; this is the transform."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit(_BOILER + " "), "text")
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.window_dedup_rewrite(dirty, w=8)


@query(
    "accent_fold",
    """
    WITH dirty AS (
        SELECT doc_id, text || CASE doc_id % 4
            WHEN 0 THEN ' caf' || chr(233) || ' na' || chr(239) || 've'
            WHEN 1 THEN ' ' || chr(220) || 'rsula pi' || chr(241) || 'ata'
            WHEN 2 THEN ' r' || chr(233) || 'sum' || chr(233)
            ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id, strip_accents(text) AS folded,
           strip_accents(text) <> text AS changed
    FROM dirty
    """,
)
def accent_fold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent folding for search/match normalization, cross-validated:
    the Spark side strips combining marks via REAL `unicodedata`
    (NFD → drop Mn → NFC), the oracle uses DuckDB's independent
    `strip_accents` — a hash match certifies the folding law itself, not
    a shared implementation.  Deterministic accented suffixes are
    injected (é ï Ü ñ) so the fold has work at every SF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    dirty = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(m == 0, F.lit(" café naïve"))
            .when(m == 1, F.lit(" Ürsula piñata"))
            .when(m == 2, F.lit(" résumé"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.accent_fold_docs(dirty)


@query(
    "ann_sq8",
    """
    WITH rng AS (
        SELECT k.k AS j,
               MIN(embedding[k.k]::DOUBLE) AS mn,
               MAX(embedding[k.k]::DOUBLE) AS mx
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS k) k
        GROUP BY k.k
    ),
    codes AS (
        SELECT e.vec_id, r.j, r.mn, r.mx,
               CASE WHEN r.mx - r.mn > 0
                    THEN ROUND(255.0 * (e.embedding[r.j]::DOUBLE - r.mn)
                               / (r.mx - r.mn), 0)::INT
                    ELSE 0 END AS code
        FROM embeddings e CROSS JOIN rng r
    ),
    probes AS (
        SELECT vec_id AS probe_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT p.probe_id, c.vec_id,
               ROUND(SUM(p.embedding[c.j]::DOUBLE
                         * (c.mn + c.code / 255.0 * (c.mx - c.mn))), 6) AS score
        FROM probes p, codes c
        GROUP BY p.probe_id, c.vec_id
    )
    SELECT probe_id, vec_id, score, rnk::INT AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY score DESC, vec_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
    """,
)
def ann_sq8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) search — the 4×-compression sibling of PQ
    (ann.sq8_train/encode/knn): per-dim [min,max] from ONE aggregate,
    uint8 codes by pure column arithmetic, search on dequantized codes
    with the probe side kept float.  Codes are exact integers, so the
    oracle replays quantization bit-for-bit and the scores to float
    equality; the top-k cut ranks the ROUNDED score."""
    from fusionspark.operators.ann import sq8_encode, sq8_knn, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    ranges = sq8_train(emb, dim=64)
    codes = sq8_encode(emb.select("vec_id", "embedding"), ranges, dim=64)
    probes = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return sq8_knn(codes, probes, k=10, dim=64)


@query(
    "corpus_datacard",
    f"""
    WITH base AS (
        SELECT doc_id, source, lang, n_chars,
               len({_WORDS}) AS n_words, md5(text) AS ch
        FROM documents
    ),
    langs AS (
        SELECT lang, COUNT(*)::DOUBLE AS n FROM base GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS t FROM langs)
    SELECT (SELECT COUNT(*) FROM base)::BIGINT AS n_docs,
           (SELECT COUNT(DISTINCT source) FROM base)::BIGINT AS n_sources,
           (SELECT COUNT(*) FROM langs)::BIGINT AS n_langs,
           ROUND(1.0 - (SELECT COUNT(DISTINCT ch) FROM base)::DOUBLE
                       / (SELECT COUNT(*) FROM base), 6) AS dup_rate,
           ROUND((SELECT AVG(n_words) FROM base), 6) AS mean_words,
           ROUND((SELECT AVG(n_chars) FROM base), 6) AS mean_chars,
           ROUND((SELECT -SUM((n / tt) * log2(n / tt))
                  FROM langs, (SELECT t AS tt FROM tot)), 6) AS lang_entropy
    FROM (SELECT 1)
    """,
)
def corpus_datacard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus data card — the headline numbers a dataset card
    publishes (size, source/language diversity with entropy, exact-dup
    rate, length profile).  Three cheap aggregates over one scan; the
    detailed members (funnel, quality, dedup clusters) are the separately
    attested queries this card links to."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.size(tokenize("text")).alias("n_words"),
        F.md5("text").alias("ch"),
    )
    langs = base.groupBy("lang").agg(F.count("*").cast("double").alias("n"))
    tot = langs.agg(F.sum("n").alias("t"))
    lang_ent = (
        langs.crossJoin(F.broadcast(tot))
        .agg(F.round(-F.sum((F.col("n") / F.col("t"))
                            * F.log2(F.col("n") / F.col("t"))), 6).alias("lang_entropy"))
    )
    head = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(1.0 - F.countDistinct("ch") / F.count("*"), 6).alias("dup_rate"),
        F.round(F.avg("n_words"), 6).alias("mean_words"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
    )
    return head.crossJoin(F.broadcast(lang_ent))


@query(
    "readability",
    f"""
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           n_sentences::BIGINT AS n_sentences,
           ROUND(n_words / n_sentences, 6) AS words_per_sentence,
           ROUND(n_letters / n_words, 6) AS chars_per_word,
           ROUND(206.835 - 1.015 * (n_words / n_sentences)
                 - 84.6 * (n_letters / n_words / 3.0), 6) AS flesch_proxy
    FROM (
        SELECT doc_id,
               len({_WORDS})::DOUBLE AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE
                   AS n_sentences,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                   AS n_letters
        FROM documents
    )
    WHERE n_words > 0
    """,
)
def readability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability proxy (Flesch reading-ease with chars/word/3 standing in
    for syllables/word — the standard no-dictionary approximation):
    words-per-sentence and chars-per-word from pure column expressions,
    zero shuffle.  A curation signal complementing Gopher/C4 (filter
    pathologically dense or fragmented prose)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_words = F.size(tokenize("text")).cast("double")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("double")
    n_letters = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"), n_sent.alias("n_sentences"),
        n_letters.alias("n_letters"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words") / F.col("n_sentences")
    cpw = F.col("n_letters") / F.col("n_words")
    return base.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(cpw, 6).alias("chars_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * (cpw / 3.0), 6).alias("flesch_proxy"),
    )


@query(
    "bloom_join_filter",
    """
    WITH vip AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0
    )
    SELECT e.user_id,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(e.value), 6) AS total_value
    FROM events e JOIN vip v ON v.user_id = e.user_id
    GROUP BY e.user_id
    """,
)
def bloom_join_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual runtime-filter join (the hand-rolled sibling of Spark's AQE
    bloom-filter join): the small side's keys build an 8 KiB Bloom filter
    (sketches.bloom_build) whose membership test prefilters the BIG side
    via K broadcast joins — no shuffle of the fact table until only
    probable matches remain; the real join then drops the false
    positives, so the result is EXACTLY the plain join (the oracle).  At
    100 TB this turns a full-fact shuffle into a shuffle of matches + FP
    rate."""
    from fusionspark.operators.sketches import bloom_build, bloom_prefilter

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    vip = ev.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    bloom = bloom_build(vip, F.col("user_id").cast("string"))
    pre = bloom_prefilter(ev, bloom, F.col("user_id").cast("string"))
    return (
        pre.join(F.broadcast(vip), "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


# ── FIM transform, CCNet buckets, quality-aware dedup keeper ──────────────


@query(
    "fim_transform",
    """
    WITH t AS (
        SELECT doc_id, text, length(text) AS n,
               ('0x' || substr(md5('fim1:' || doc_id), 1, 8))::BIGINT
                   % greatest(length(text), 1) AS c1,
               ('0x' || substr(md5('fim2:' || doc_id), 1, 8))::BIGINT
                   % greatest(length(text), 1) AS c2,
               ('0x' || substr(md5('fimr:' || doc_id), 1, 8))::BIGINT % 100 AS coin
        FROM documents
    ),
    s AS (
        SELECT doc_id, text, n, coin,
               least(c1, c2) AS lo, greatest(c1, c2) AS hi
        FROM t
    )
    SELECT doc_id,
           CASE WHEN coin < 50 AND n > 0 THEN 'psm' ELSE 'ar' END AS fmt,
           CASE WHEN coin < 50 AND n > 0 THEN
               '<PRE>' || substr(text, 1, lo) || '<SUF>' || substr(text, hi + 1)
               || '<MID>' || substr(text, lo + 1, hi - lo)
           ELSE text END AS sample
    FROM s
    """,
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022): a
    deterministic 50% of docs are re-ordered to <PRE>prefix<SUF>suffix
    <MID>middle with md5-derived cut points (packing.fim_split) — pure
    column expressions, zero shuffle, stable under repartitioning."""
    from fusionspark.operators.packing import fim_split

    return fim_split(load_table(spark, sf_dir, "documents"))


@query(
    "ccnet_buckets",
    f"""
    WITH scored AS ({LM_PERPLEXITY_ORACLE})
    SELECT doc_id, perplexity,
           CASE NTILE(3) OVER (ORDER BY perplexity ASC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM scored
    """,
)
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): tertile
    buckets of bigram-LM perplexity — 'head' is the cleanest third.  The
    oracle keeps the readable NTILE spec; the Spark plan uses the
    grid-form NTILE (operators/ranking.py::ntile_exact, r13 whitelist
    burn-down): identical output, no unpartitioned raw-row window —
    the perplexity-grid groupBy and the value-keyed rank parallelize
    over the score domain."""
    from fusionspark.operators.ranking import ntile_exact

    d = load_table(spark, sf_dir, "documents")
    scored = textstats.lm_perplexity_scores(d)
    b = ntile_exact(scored, 3, "perplexity", "doc_id", "bucket_n")
    bucket = F.col("bucket_n")
    label = (
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail")
    )
    return b.select("doc_id", "perplexity", label.alias("bucket"))


@query(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE {_PAIRS_07.strip()},
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT sym.d, walk.lbl FROM walk JOIN sym ON walk.node = sym.s
    ),
    labels AS (
        SELECT node AS doc_id, MIN(lbl)::BIGINT AS component
        FROM walk GROUP BY node
    )
    SELECT l.doc_id, l.component,
           FIRST_VALUE(l.doc_id) OVER (
               PARTITION BY l.component
               ORDER BY d.n_chars DESC, l.doc_id ASC) AS keeper,
           (l.doc_id = FIRST_VALUE(l.doc_id) OVER (
               PARTITION BY l.component
               ORDER BY d.n_chars DESC, l.doc_id ASC)) AS is_keeper
    FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper selection: same near-dup components as
    dedup_clusters, but the canonical survivor is the LONGEST member
    (n_chars argmax, ties → lowest id) instead of the minimum id — the
    policy real pipelines use so dedup never discards the fullest copy.
    One extra window over the component partitioning."""
    from pyspark.sql import Window as Wnd

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.minhash_neardup(
        docs, threshold=0.7, num_hashes=NUM_HASHES, bands=BANDS
    ).select("id_a", "id_b")
    labels = dedup.connected_components(edges, docs.select("doc_id"))
    j = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Wnd.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    keeper = F.first("doc_id").over(w)
    return j.select(
        "doc_id",
        "component",
        keeper.alias("keeper"),
        (F.col("doc_id") == keeper).alias("is_keeper"),
    )


# ── KMV / theta sketch: distinct estimates with set algebra ───────────────


@query(
    "kmv_theta",
    f"""
    WITH en_v AS (
        SELECT DISTINCT ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
        FROM (SELECT unnest({_WORDS}) AS w FROM documents WHERE lang = 'en')
    ),
    xx_v AS (
        SELECT DISTINCT ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
        FROM (SELECT unnest({_WORDS}) AS w FROM documents WHERE lang <> 'en')
    ),
    a AS (SELECT h FROM en_v ORDER BY h LIMIT 64),
    b AS (SELECT h FROM xx_v ORDER BY h LIMIT 64),
    ea AS (
        SELECT CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                    ELSE 63.0 * 4294967296.0 / MAX(h)::DOUBLE END AS est
        FROM a
    ),
    eb AS (
        SELECT CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE
                    ELSE 63.0 * 4294967296.0 / MAX(h)::DOUBLE END AS est
        FROM b
    ),
    th AS (
        SELECT least((SELECT MAX(h) FROM a), (SELECT MAX(h) FROM b))::DOUBLE
               AS theta
    ),
    au AS (SELECT h FROM a, th WHERE h < theta),
    bu AS (SELECT h FROM b, th WHERE h < theta),
    sets AS (
        SELECT (SELECT COUNT(*) FROM (SELECT h FROM au UNION SELECT h FROM bu))
                   AS n_union,
               (SELECT COUNT(*) FROM au JOIN bu USING (h)) AS n_inter
    )
    SELECT ROUND(ea.est, 6) AS est_en,
           ROUND(eb.est, 6) AS est_other,
           ROUND(sets.n_union / (th.theta / 4294967296.0), 6) AS est_union,
           ROUND(sets.n_inter / (th.theta / 4294967296.0), 6) AS est_intersect
    FROM ea, eb, sets, th
    """,
)
def kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta sketches over the en vs non-en vocabularies: two 64-value
    minimum-hash samples give distinct estimates AND union/intersection
    estimates (θ = min of the two k-th minima) — the set algebra HLL
    cannot do, with constant-size mergeable state (the 100 TB shape:
    every partition contributes ≤ k candidates via TakeOrdered).  The
    oracle replays hashes, cuts, θ, and both estimators exactly."""
    from fusionspark.operators.sketches import kmv_estimate, kmv_hashes, theta_estimates

    d = load_table(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(tokenize("text")).alias("w"))
    a = kmv_hashes(words.filter(F.col("lang") == "en").select("w"), F.col("w"), 64)
    b = kmv_hashes(words.filter(F.col("lang") != "en").select("w"), F.col("w"), 64)
    a = a.localCheckpoint(eager=True)
    b = b.localCheckpoint(eager=True)
    ea = kmv_estimate(a, 64).select(F.col("est_distinct").alias("est_en"))
    eb = kmv_estimate(b, 64).select(F.col("est_distinct").alias("est_other"))
    return ea.crossJoin(eb).crossJoin(theta_estimates(a, b, 64))


@query(
    "ngram_novelty",
    f"""
    WITH sh_t AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s
        FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ),
    firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM sh_t GROUP BY s),
    per_doc AS (
        SELECT t.doc_id, COUNT(*)::BIGINT AS n_grams,
               SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)::BIGINT
                   AS n_novel
        FROM sh_t t JOIN firsts f USING (s)
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           ROUND(n_novel::DOUBLE / n_grams, 6) AS novelty
    FROM per_doc
    """,
)
def ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty (operators/dedup.py::ngram_novelty): the
    fraction of a doc's distinct shingles first seen in THIS doc — each
    document's marginal contribution to the corpus (novelty ≈ 0 ⇒
    assembled from already-seen phrases).  Arrow shingle emitter → gram
    MIN(id) agg → co-partitioned join back → one per-doc agg."""
    return dedup.ngram_novelty(load_table(spark, sf_dir, "documents"))


@query(
    "neardup_containment",
    f"""
    WITH words_t AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sh_t AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s
        FROM words_t
    ),
    based AS (
        SELECT doc_id,
               {_H32.format(expr='s')} AS b1,
               {_H32.format(expr="'x:' || s")} AS b2
        FROM sh_t
    ),
    sigs AS (
        SELECT doc_id,
        {_SIG_COLS}
        FROM based GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id,
        {_BAND_KEYS}
        FROM sigs
    ),
    banded AS (
        {_BAND_UNION}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM words_t)
    SELECT id_a, id_b,
           FLOOR((len(list_intersect(a.sh, b.sh))::DOUBLE
                  / least(len(a.sh), len(b.sh))) * 1000000.0 + 0.5)
               / 1000000.0 AS containment
    FROM cands
    JOIN sh a ON a.doc_id = id_a
    JOIN sh b ON b.doc_id = id_b
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    """,
)
def neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication (operators/dedup.py::containment_neardup):
    overlap coefficient |A∩B|/min(|A|,|B|) on the SAME MinHash-band
    candidates as neardup_ngram_lsh — a short doc quoted inside a long
    one scores ~1 where Jaccard stays low.  The oracle replays bands,
    bucket join, and the min-denominator verify bit-for-bit."""
    out = dedup.containment_neardup(load_table(spark, sf_dir, "documents"))
    # r14: overlap/min is an integer ratio — round6_stable
    return out.select(
        "id_a",
        "id_b",
        textstats.round6_stable(F.col("containment")).alias("containment"),
    )


@query(
    "quality_percentile",
    f"""
    WITH q AS (
        SELECT doc_id, source,
               FLOOR((least(1.0, n_tokens / 50.0) * 0.5
                      + least(1.0, CASE WHEN n_tokens > 0
                                   THEN n_stop::DOUBLE / n_tokens ELSE 0 END * 2) * 0.3
                      + CASE WHEN length(text) > 0
                             THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                                  / length(text) ELSE 0 END * 0.2)
                     * 1000000.0 + 0.5) / 1000000.0 AS quality
        FROM (
            SELECT doc_id, source, text, len(words) AS n_tokens,
                   len(list_filter(words, t -> list_contains({_STOP_SQL}, t))) AS n_stop
            FROM (SELECT doc_id, source, text, {_WORDS} AS words FROM documents)
        )
    )
    SELECT doc_id, source, quality,
           FLOOR(percent_rank() OVER (
               PARTITION BY source ORDER BY quality, doc_id)
                 * 1000000.0 + 0.5) / 1000000.0 AS pct
    FROM q
    """,
)
def quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUANTILE NORMALIZATION of the quality score — the
    batch-effect fix for mixed-source corpora: an absolute quality
    threshold means different things for web crawl vs curated text, so
    filters cut on each doc's percentile WITHIN its source instead.
    percent_rank over the (quality, doc_id) FULLY-KEYED order (a bare
    score order leaves tied docs engine-ordered); ranks run on the
    ROUNDED score both engines already hash-agree on.  One shuffle on
    source; at 100 TB pre-aggregate per-source score histograms instead
    of ranking raw rows — the output contract is unchanged."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        textstats.round6_stable(textstats.quality_score("text")).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return q.select(
        "doc_id", "source", "quality",
        textstats.round6_stable(F.percent_rank().over(w)).alias("pct"),
    )


@query(
    "temperature_mix",
    f"""
    WITH g AS (SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang),
    nn AS (SELECT SUM(n)::BIGINT AS N FROM g),
    w AS (
        SELECT lang, n, sqrt(n::DOUBLE / (SELECT N FROM nn)) AS wt FROM g
    ),
    norm AS (
        SELECT list_reduce(list(wt ORDER BY lang), (a, b) -> a + b)::DOUBLE AS z
        FROM w
    ),
    r AS (
        SELECT lang,
               least(1.0::DOUBLE,
                     (wt / (SELECT z FROM norm))
                     * ((SELECT N FROM nn) // 2) / n) AS rate
        FROM w
    )
    SELECT d.doc_id, d.lang, ROUND(r.rate, 6) AS rate
    FROM documents d JOIN r USING (lang)
    WHERE {_H32.format(expr="d.lang || ':' || d.doc_id")} % 10000
          < r.rate * 10000.0
    """,
)
def temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=0.5 temperature rebalance of the language mix
    (operators/packing.py::temperature_mix): tail languages upsample
    toward √-share weights, head languages cap at rate 1; the md5 coin
    keeps the pick deterministic and monotone.  The oracle replays the
    left-to-right normalizer fold via list(ORDER BY) → list_reduce —
    the plain-SUM form would be fold-order float drift at the rate
    boundary."""
    from fusionspark.operators.packing import temperature_mix

    return temperature_mix(load_table(spark, sf_dir, "documents"))


_PAIRS = [
    ("gopher~c4", "gopher_pass", "c4_pass"),
    ("gopher~nb", "gopher_pass", "nb_pass"),
    ("gopher~lm", "gopher_pass", "lm_pass"),
    ("c4~nb", "c4_pass", "nb_pass"),
    ("c4~lm", "c4_pass", "lm_pass"),
    ("nb~lm", "nb_pass", "lm_pass"),
]

_AGREE_ROWS = "\n    UNION ALL\n".join(
    f"""
    SELECT '{name}' AS pair,
           n11_{a}_{b} AS n11,
           n - s_{a} - s_{b} + n11_{a}_{b} AS n00,
           ROUND((2 * n11_{a}_{b} + n - s_{a} - s_{b})::DOUBLE / n, 6)
               AS agreement,
           ROUND(CASE WHEN n * n - (s_{a} * s_{b} + (n - s_{a}) * (n - s_{b})) = 0
                      THEN 0.0
                      ELSE ((2 * n11_{a}_{b} + n - s_{a} - s_{b}) * n
                            - (s_{a} * s_{b} + (n - s_{a}) * (n - s_{b})))::DOUBLE
                           / (n * n - (s_{a} * s_{b} + (n - s_{a}) * (n - s_{b})))
                 END, 6) AS kappa
    FROM sums"""
    for name, a, b in _PAIRS
)

_SUM_COLS = ", ".join(
    [f"SUM({a} * {b})::BIGINT AS n11_{a}_{b}" for _, a, b in _PAIRS]
    + [
        f"SUM({c})::BIGINT AS s_{c}"
        for c in ("gopher_pass", "c4_pass", "nb_pass", "lm_pass")
    ]
    + ["COUNT(*)::BIGINT AS n"]
)


@query(
    "filter_agreement",
    f"""
    WITH qc AS ({QUALITY_CONSENSUS_ORACLE}),
    sums AS (SELECT {_SUM_COLS} FROM qc)
    {_AGREE_ROWS}
    """,
)
def filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement + Cohen's kappa between the four quality
    families (ablation tooling: which filters are redundant, which
    disagree enough to be complementary).  po and pe come from exact
    BIGINT contingency counts — kappa = (po·n² − pe_num) / (n² − pe_num)
    divides once per pair, so both engines compute identical values."""
    import functools

    per_doc = quality_consensus(spark, sf_dir).select(
        "gopher_pass", "c4_pass", "nb_pass", "lm_pass"
    )
    aggs = (
        [
            F.sum(F.col(a) * F.col(b)).cast("long").alias(f"n11_{a}_{b}")
            for _, a, b in _PAIRS
        ]
        + [
            F.sum(c).cast("long").alias(f"s_{c}")
            for c in ("gopher_pass", "c4_pass", "nb_pass", "lm_pass")
        ]
        + [F.count("*").cast("long").alias("n")]
    )
    sums = per_doc.agg(*aggs)
    rows = []
    for name, a, b in _PAIRS:
        n11 = F.col(f"n11_{a}_{b}")
        sa, sb, n = F.col(f"s_{a}"), F.col(f"s_{b}"), F.col("n")
        po_num = 2 * n11 + n - sa - sb          # n11 + n00, exact BIGINT
        pe_num = sa * sb + (n - sa) * (n - sb)  # pe · n², exact BIGINT
        rows.append(
            sums.select(
                F.lit(name).alias("pair"),
                n11.alias("n11"),
                (n - sa - sb + n11).alias("n00"),
                F.round(po_num.cast("double") / n, 6).alias("agreement"),
                F.round(
                    F.when(n * n - pe_num == 0, F.lit(0.0)).otherwise(
                        (po_num * n - pe_num).cast("double") / (n * n - pe_num)
                    ),
                    6,
                ).alias("kappa"),
            )
        )
    return functools.reduce(lambda x, y: x.unionAll(y), rows)


@query(
    "nb_calibration",
    f"""
    WITH nbq AS ({NB_QUALITY_ORACLE}),
    lab AS (
        SELECT n.doc_id, n.nb_score,
               CASE WHEN d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
                    THEN 1 ELSE 0 END AS is_pos
        FROM nbq n JOIN documents d USING (doc_id)
    ),
    b AS (
        SELECT is_pos, nb_score,
               NTILE(10) OVER (ORDER BY nb_score, doc_id) AS decile
        FROM lab
    )
    SELECT decile::INT AS decile, COUNT(*)::BIGINT AS n,
           SUM(is_pos)::BIGINT AS n_pos,
           ROUND(SUM(is_pos)::DOUBLE / COUNT(*), 6) AS pos_rate,
           ROUND(MIN(nb_score), 6) AS score_lo,
           ROUND(MAX(nb_score), 6) AS score_hi
    FROM b GROUP BY decile
    """,
)
def nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the NB quality classifier: decile buckets of
    the (ROUNDED, doc_id-keyed) score vs the curated-source positive rate
    — a monotone pos_rate curve means the score ORDERING is usable for
    curriculum/threshold choices beyond the sign cut.  The rounded score
    keys the ntile so bucket boundaries are engine-stable; counts are
    exact integers, one division per bucket."""
    from fusionspark.operators.ranking import ntile_exact

    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    nb = textstats.nb_quality_scores(d, pos,
        F.col("source").isin("src15", "src16", "src17", "src18", "src19"))
    lab = nb.join(d.select("doc_id", pos.cast("int").alias("is_pos")), "doc_id")
    # r13: grid-form NTILE (operators/ranking.py) — bit-identical to the
    # oracle's NTILE(10) spec but with NO unpartitioned window over raw
    # rows: the only corpus-wide work is the score-grid groupBy and the
    # score-keyed join/partitioned rank (window-whitelist burn-down)
    b = ntile_exact(lab, 10, "nb_score", "doc_id", "decile")
    return b.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("is_pos").cast("long").alias("n_pos"),
        F.round(F.sum("is_pos").cast("double") / F.count("*"), 6).alias("pos_rate"),
        F.round(F.min("nb_score"), 6).alias("score_lo"),
        F.round(F.max("nb_score"), 6).alias("score_hi"),
    )


@query(
    "weighted_sample",
    """
    SELECT doc_id, lang, n_chars,
           ROUND(ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                    / 4294967296.0)
                 / CAST(n_chars AS DOUBLE), 6) + 0.0 AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY ROUND(ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                       / 4294967296.0)
                   / CAST(n_chars AS DOUBLE), 6) DESC,
             doc_id ASC
    LIMIT 200
    """,
)
def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (operators/sampling.py,
    Efraimidis–Spirakis A-Res): 200 docs with inclusion probability
    proportional to n_chars — the token-budget-proportional subcorpus cut
    that uniform hash_sample can't express.  The rank key ln(u)/w uses the
    same md5-coin contract as hash_sample/stratified_sample, so the sample
    is engine- and partitioning-reproducible.  Scale: per-row expression +
    TakeOrdered partial top-K; only K rows cross partitions."""
    from fusionspark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, weight_col="n_chars", k=200)


_SHINGLES8 = (
    "list_transform(generate_series(1, greatest(len(words) - 7, 1)),"
    " i -> array_to_string(words[i:i+7], ' '))"
)


@query(
    "split_leakage",
    f"""
    WITH assigned AS (
        SELECT doc_id, text,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 100 AS b
        FROM documents
    ),
    sp AS (
        SELECT doc_id, text,
               CASE WHEN b < 80 THEN 'train' ELSE 'test' END AS split
        FROM assigned WHERE b < 80 OR b >= 90
    ),
    w AS (SELECT doc_id, split, {_WORDS} AS words FROM sp),
    sh AS (
        SELECT doc_id, split, unnest(list_distinct({_SHINGLES8})) AS s FROM w
    ),
    train_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
    test_sh AS (SELECT doc_id, s FROM sh WHERE split = 'test'),
    tot AS (SELECT doc_id, COUNT(*)::BIGINT AS n_shingles FROM test_sh GROUP BY doc_id),
    lk AS (
        SELECT t.doc_id, COUNT(*)::BIGINT AS n_leaked
        FROM test_sh t JOIN train_sh USING (s) GROUP BY t.doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(l.n_leaked, 0)::BIGINT AS n_leaked,
           FLOOR((COALESCE(l.n_leaked, 0) / t.n_shingles)
                 * 1000000.0 + 0.5) / 1000000.0 AS leak_frac
    FROM tot t LEFT JOIN lk l USING (doc_id)
    """,
)
def split_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-doc train→test shingle leakage (packing.split_leakage,
    word-8-grams over assign_split's deterministic 80/10/10): the
    data-card memorization number.  Train vocabulary deduped then
    broadcast; counts roll up map-side."""
    from fusionspark.operators.packing import split_leakage

    return split_leakage(load_table(spark, sf_dir, "documents"), gram=8)


@query(
    "neardup_prefix",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s FROM w),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM sh GROUP BY 1),
    o AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS o
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           FLOOR((o::DOUBLE / (x.sz + y.sz - o)::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM o
    JOIN sizes x ON o.id_a = x.doc_id
    JOIN sizes y ON o.id_b = y.doc_id
    WHERE o::DOUBLE / (x.sz + y.sz - o)::DOUBLE >= 0.6
    """,
)
def neardup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join, Jaccard ≥ 0.6 on word-3-gram shingle sets,
    via LOSSLESS prefix + length filtering (operators/simjoin.py — the
    PPJoin/AllPairs scale path: rarest-first (df, s) composite-key order
    with no global window or vocab broadcast, per-set prefix
    |x| − ⌈t·|x|⌉ + 1, candidates only where both prefixes share a
    shingle).  The oracle is the UNPRUNED all-pairs ground truth, so
    every gate run re-proves the pruning drops no qualifying pair —
    unlike neardup_ngram_lsh, whose banding is probabilistic."""
    from fusionspark.operators.simjoin import jaccard_join_prefix

    return jaccard_join_prefix(
        load_table(spark, sf_dir, "documents"), t_num=3, t_den=5, gram=3
    )


@query(
    "hashed_features",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS}) AS w
        FROM (SELECT doc_id, text FROM documents)
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5('fh:' || w), 1, 8))::BIGINT % 16 AS dim,
               CASE WHEN ('0x' || substr(md5('fs:' || w), 1, 8))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM toks
    )
    SELECT doc_id, dim::INT AS dim, SUM(sgn)::BIGINT AS val
    FROM hashed GROUP BY doc_id, dim
    HAVING SUM(sgn) <> 0
    """,
)
def hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the Weinberger et al. hashing trick): every token
    maps to one of 16 dims by md5, with a second independent hash picking
    the sign so collisions cancel in expectation — the fixed-width,
    vocabulary-free featurizer a streaming training pipeline uses when it
    can't afford a vocab pass.  Long (doc, dim, val) output, exact
    integer counts; one explode + one map-side-combinable groupBy."""
    d = load_table(spark, sf_dir, "documents")
    from fusionspark.functions.text import tokenize
    from fusionspark.operators.dedup import md5_hash32

    toks = d.select("doc_id", F.explode(tokenize("text")).alias("w"))
    dim = F.pmod(md5_hash32(F.concat(F.lit("fh:"), F.col("w"))), F.lit(16))
    sgn = F.when(
        F.pmod(md5_hash32(F.concat(F.lit("fs:"), F.col("w"))), F.lit(2)) == 0, 1
    ).otherwise(-1)
    return (
        toks.select("doc_id", dim.cast("int").alias("dim"), sgn.alias("sgn"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


@query(
    "target_encoding",
    """
    WITH g AS (
        SELECT source, SUM(n_chars)::BIGINT AS s, COUNT(*)::BIGINT AS c
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source,
           CASE WHEN g.c > 1
                THEN ROUND((g.s - d.n_chars) * 1.0 / (g.c - 1), 6)
           END AS te
    FROM documents d JOIN g USING (source)
    """,
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the source category against the
    n_chars target — the leakage-safe categorical featurizer (plain mean
    encoding leaks each row's own target; LOO subtracts it:
    (Σ_g − xᵢ)/(n_g − 1)).  Group moments are exact BIGINTs broadcast
    into a map-side projection; the only float is the final division."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("s"), F.count("*").cast("long").alias("c")
    )
    return d.join(F.broadcast(g), "source").select(
        "doc_id",
        "source",
        F.when(
            F.col("c") > 1,
            F.round((F.col("s") - F.col("n_chars")) * 1.0 / (F.col("c") - 1), 6),
        ).alias("te"),
    )


_LID_D = 1024  # hashed feature width for the trained lang-ID model


@query(
    "lang_id_trained",
    f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('lh:' || w), 1, 8))::BIGINT % {_LID_D} AS dim
        FROM (SELECT doc_id, lang, unnest({_WORDS}) AS w FROM documents)
    ),
    langs AS (SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
    total AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    cnt AS (SELECT doc_id, dim, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
    lw AS (SELECT lang, dim, COUNT(*)::BIGINT AS n FROM toks GROUP BY 1, 2),
    lt AS (SELECT lang, COUNT(*)::BIGINT AS t FROM toks GROUP BY 1),
    grid AS (
        SELECT l.lang, d.dim,
               ln((COALESCE(lw.n, 0) + 1)::DOUBLE)
               - ln((lt.t + {_LID_D})::DOUBLE) AS w
        FROM (SELECT lang FROM langs) l
        CROSS JOIN (SELECT unnest(generate_series(0, {_LID_D - 1})) AS dim) d
        JOIN lt ON lt.lang = l.lang
        LEFT JOIN lw ON lw.lang = l.lang AND lw.dim = d.dim
    ),
    folded AS (
        SELECT c.doc_id, g.lang,
               list_reduce(
                   list_prepend(0.0::DOUBLE, list(c.c * g.w ORDER BY c.dim)),
                   (a, b) -> a + b
               ) AS s
        FROM cnt c JOIN grid g ON c.dim = g.dim
        GROUP BY c.doc_id, g.lang
    ),
    scored AS (
        SELECT d.doc_id, d.lang AS lang, l.lang AS cand,
               ln(l.n_docs::DOUBLE) - ln(t.n::DOUBLE) + COALESCE(f.s, 0.0)
                   AS score
        FROM documents d
        CROSS JOIN total t
        CROSS JOIN langs l
        LEFT JOIN folded f ON f.doc_id = d.doc_id AND f.lang = l.lang
    )
    SELECT doc_id, lang, cand AS pred_lang, ROUND(score, 6) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, cand ASC
                  ) AS rk
        FROM scored
    ) WHERE rk = 1
    """,
)
def lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID (VERDICT r8 #8): a fastText-style hashed
    linear classifier — multinomial Naive Bayes over {_LID_D}-dim hashed
    token features (NB IS a linear model in log space), trained on the
    corpus's own lang labels and scored with a broadcast weight grid.
    Upgrades the marker-word heuristic (`lang_id`) to the CCNet-grade
    learned component: vocabulary-free (the hashing trick bounds the
    model at langs × {_LID_D} weights at ANY corpus size), Laplace
    smoothing, log-prior, argmax with lang-asc tie-break.

    Float parity discipline: per-(doc, lang) scores fold c·w terms in
    dim-ASC order on BOTH engines (sort_array+aggregate ↔ DuckDB
    list_reduce over an ORDER BY list), so the IEEE sum is
    bit-identical and the argmax decision replays exactly.

    Scale shape: one token explode feeding two map-side-combinable
    groupBys ((doc, dim) features and (lang, dim) counts); the trained
    model is a fixed langs×dims grid that BROADCASTS (never a vocab-
    sized table — the hashing trick is what makes the weight table
    O(1) in corpus size); scoring is one broadcast join + one
    (doc, lang) fold; the final argmax is a |langs|-rows-per-doc window
    (one scored row per candidate language)."""
    d = load_table(spark, sf_dir, "documents")
    return nb_lang_scores(spark, d)


def nb_lang_scores(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Core trained-lang-ID plan over a (doc_id, lang, text) frame — see
    lang_id_trained for the full story.  Separated so tests can train on
    a planted corpus with real per-language vocabulary (the synthetic
    testdata's text is label-independent word soup, where NO classifier
    can beat the majority class — the gate proves replay parity there,
    this function's unit test proves learnability)."""
    from fusionspark.functions.text import tokenize
    from fusionspark.operators.dedup import md5_hash32

    # r15 note: io.spread tried and REVERTED (in-suite regression; see
    # textstats.nb_quality_scores)
    toks = (
        d.select("doc_id", "lang", F.explode(tokenize("text")).alias("w"))
        .select(
            "doc_id",
            "lang",
            F.pmod(
                md5_hash32(F.concat(F.lit("lh:"), F.col("w"))), F.lit(_LID_D)
            ).alias("dim"),
        )
    )
    langs = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    total = d.agg(F.count("*").cast("long").alias("n"))
    cnt = toks.groupBy("doc_id", "dim").agg(F.count("*").cast("long").alias("c"))
    lw = toks.groupBy("lang", "dim").agg(F.count("*").cast("long").alias("n"))
    lt = toks.groupBy("lang").agg(F.count("*").cast("long").alias("t"))
    dims = spark.range(_LID_D).select(F.col("id").cast("long").alias("dim"))
    grid = (
        langs.select("lang")
        .crossJoin(dims)
        .join(lt, "lang")
        .join(lw, ["lang", "dim"], "left")
        .select(
            "lang",
            "dim",
            (
                F.log((F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double"))
                - F.log((F.col("t") + _LID_D).cast("double"))
            ).alias("w"),
        )
    )
    terms = cnt.join(F.broadcast(grid), "dim").select(
        "doc_id",
        F.col("lang").alias("cand"),
        F.struct(F.col("dim"), (F.col("c") * F.col("w")).alias("cw")).alias("kv"),
    )
    folded = terms.groupBy("doc_id", "cand").agg(
        F.aggregate(
            F.sort_array(F.collect_list("kv")),
            F.lit(0.0),
            lambda acc, x: acc + x["cw"],
        ).alias("s")
    )
    priors = langs.crossJoin(F.broadcast(total)).select(
        F.col("lang").alias("cand"),
        (F.log(F.col("n_docs").cast("double")) - F.log(F.col("n").cast("double"))).alias("prior"),
    )
    scored = (
        d.select("doc_id", "lang")
        .crossJoin(F.broadcast(priors))
        .join(folded, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "lang",
            "cand",
            (F.col("prior") + F.coalesce(F.col("s"), F.lit(0.0))).alias("score"),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "lang",
            F.col("cand").alias("pred_lang"),
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "line_dedup",
    """
    WITH lines AS (
        SELECT doc_id, i.i AS pos, ln.l[i.i] AS line
        FROM (SELECT doc_id,
                     string_split(text || chr(10) || source || chr(10)
                                  || text || chr(10) || lang, chr(10)) AS l
              FROM documents) ln,
             unnest(generate_series(1, len(ln.l))) i(i)
    ),
    keep AS (
        SELECT doc_id, MIN(pos) AS pos, line
        FROM lines GROUP BY doc_id, line
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS text,
               COUNT(*)::BIGINT AS n_lines_kept
        FROM keep GROUP BY doc_id
    ),
    orig AS (
        SELECT doc_id,
               len(string_split(text || chr(10) || source || chr(10)
                                || text || chr(10) || lang, chr(10)))
                   ::BIGINT AS n_lines
        FROM documents
    )
    SELECT r.doc_id, o.n_lines, r.n_lines_kept,
           (o.n_lines - r.n_lines_kept)::BIGINT AS n_dropped,
           md5(r.text) AS text_md5
    FROM rebuilt r JOIN orig o ON r.doc_id = o.doc_id
    """,
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document exact line dedup — the C4/RefinedWeb repetition
    pass that precedes cross-doc dedup: duplicate lines inside a doc
    (navigation bars, repeated boilerplate rows) keep only their FIRST
    occurrence, and the cleaned text is content-attested via md5 for
    every doc (the dedup_span_rewrite standard — not just counts).
    Complements paragraph_dedup (cross-doc md5-frequency removal) and
    substring_dedup (cross-doc window spans).

    CORPUS PREMISE: the synthetic documents are single-line, where the
    drop path would never fire — so the query derives a multi-line doc
    (text ⏎ source ⏎ text ⏎ lang) with a GUARANTEED duplicate line per
    doc, making the removal + in-order reassembly the thing the hash
    attests (n_dropped ≥ 1 for every doc by construction); the operator
    body is input-agnostic.

    Scale shape: one line explode → one (doc, line) groupBy (min pos) →
    one per-doc ordered reassembly — two doc-keyed exchanges; lines
    shuffle once, whole documents never do (the reassembly fold runs
    inside the doc partition)."""
    d = load_table(spark, sf_dir, "documents")
    derived = F.concat_ws(
        "\n", F.col("text"), F.col("source"), F.col("text"), F.col("lang")
    )
    lines = d.select(
        "doc_id", F.posexplode(F.split(derived, "\n")).alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    keep = lines.groupBy("doc_id", "line").agg(F.min("pos").alias("pos"))
    rebuilt = keep.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").cast("long").alias("n_lines_kept"),
    )
    orig = d.select(
        "doc_id", F.size(F.split(derived, "\n")).cast("long").alias("n_lines")
    )
    return rebuilt.join(orig, "doc_id").select(
        "doc_id",
        "n_lines",
        "n_lines_kept",
        (F.col("n_lines") - F.col("n_lines_kept")).cast("long").alias("n_dropped"),
        F.md5("text").alias("text_md5"),
    )


@query(
    "compaction_plan",
    """
    WITH RECURSIVE src AS (
        SELECT source, SUM(n_chars)::BIGINT AS sz
        FROM documents GROUP BY 1
    ),
    cap AS (SELECT (2 * MAX(sz))::BIGINT AS cap FROM src),
    ordered AS (
        SELECT list(sz ORDER BY sz DESC, source ASC) AS szs,
               list(source ORDER BY sz DESC, source ASC) AS names
        FROM src
    ),
    ffd AS (
        SELECT 0::BIGINT AS i, []::BIGINT[] AS bins, []::BIGINT[] AS abin
        UNION ALL
        SELECT i + 1,
               CASE WHEN j IS NULL THEN list_append(bins, sz)
                    ELSE bins[:j-1] || [bins[j] + sz] || bins[j+1:] END,
               list_append(abin, CASE WHEN j IS NULL THEN len(bins) + 1
                                      ELSE j END)
        FROM (
            SELECT i, bins, abin, sz,
                   NULLIF(list_position(
                       list_transform(bins, b -> b + sz <= cap), true), 0) AS j
            FROM (
                SELECT i, bins, abin,
                       (SELECT szs[i + 1] FROM ordered) AS sz,
                       (SELECT cap FROM cap) AS cap
                FROM ffd
            )
        )
        WHERE i < (SELECT len(szs) FROM ordered)
    )
    SELECT t.name AS source, t.sz AS size_bytes, t.b::BIGINT AS bin_id,
           (SELECT cap FROM cap) AS capacity
    FROM (
        SELECT unnest((SELECT names FROM ordered)) AS name,
               unnest((SELECT szs FROM ordered)) AS sz,
               unnest(abin) AS b
        FROM ffd WHERE i = (SELECT len(szs) FROM ordered)
    ) t
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning — first-fit-decreasing bin packing
    of per-source byte totals into merge bins of capacity 2·max(size):
    the planning pass a 100 TB lakehouse runs to turn a small-files mess
    into target-size parquet (each bin becomes one coalesced write).
    FFD is the classic 11/9·OPT+1 heuristic; items sort (size DESC,
    name ASC) so the plan is total-order deterministic, and every load
    comparison is exact BIGINT arithmetic.

    Scale shape: sizes come from ONE corpus groupBy; the sequential
    first-fit fold then runs on the bounded per-GROUP metadata frame
    (|sources| rows here; file-manifest rows in production — planning
    input is metadata, never data).  The fold is inherently sequential
    (each placement depends on all prior loads), so the bounded frame
    collects to the driver — the pettitt/theil_sen bounded-frame
    contract — and the DuckDB oracle replays it as a recursive CTE.
    Not in the reference (scale addition): the reference's single-file
    persistence (FusionEngine.js save/load) never faces file layout."""
    d = load_table(spark, sf_dir, "documents")
    src = (
        d.groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("sz"))
        .collect()
    )  # bounded: one row per source
    items = sorted(src, key=lambda r: (-r["sz"], r["source"]))
    cap = 2 * max(r["sz"] for r in src)
    bins: list[int] = []
    rows = []
    for r in items:
        for j, load in enumerate(bins):
            if load + r["sz"] <= cap:
                bins[j] += r["sz"]
                rows.append((r["source"], r["sz"], j + 1, cap))
                break
        else:
            bins.append(r["sz"])
            rows.append((r["source"], r["sz"], len(bins), cap))
    return spark.createDataFrame(
        rows, "source string, size_bytes long, bin_id long, capacity long"
    )


@query(
    "entity_resolution",
    """
    WITH ks AS (SELECT c_custkey AS k FROM customer),
    norm AS (
        SELECT k, list_reduce(
                   list_transform(string_split(lpad(k::VARCHAR, 6, '0'), ''),
                                  d -> repeat(chr(97 + d::INT), 4)),
                   (a, b) -> a || b) AS clean
        FROM ks
    )
    SELECT (k * 4 + v)::BIGINT AS record_id,
           k AS custkey,
           (k * 4)::BIGINT AS entity_id,
           (2 + CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END
              + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS cluster_size
    FROM norm,
         (SELECT unnest([0, 1, 2, 3]) AS v)
    WHERE v <= 1 OR (v = 2 AND k % 3 = 0) OR (v = 3 AND k % 5 = 0)
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over a dirty customer registry —
    normalize → block → edit-distance match → connected components →
    canonical entity ids, the master-data pipeline every warehouse runs
    (and the reference's id-keyed store cannot express).

    DERIVED DIRTY CORPUS (the line_dedup contract — expected output is
    planted by construction, the operator chain is input-agnostic):
    each customer key becomes a 24-char name (each of 6 zero-padded
    digits → a letter repeated ×4, so DISTINCT keys differ by ≥4 edits)
    with 2-4 records: two clean duplicates always, a typo at position 9
    (digit group 3) when k%3=0, another at position 13 (group 4) when
    k%5=0 — every within-entity pair is ≤2 edits apart, and because the
    two typo sites sit in DIFFERENT digit groups, a cross-entity pair
    can have at most ONE typo landing in its differing group, leaving
    distance ≥3 (a shared typo site inside the differing group was
    exactly the false-merge this corpus design eliminates).

    Pipeline under test: block on the LAST 8 name chars (stable under
    the planted typo positions; uniform over key digits, so block sizes
    stay ~n/100 — candidate pairs never explode), Levenshtein ≤ 2 inside
    blocks only, then min-label connected components (operators/dedup)
    assign each record the minimum reachable record_id.  A wrong
    blocking key, threshold, or CC bug breaks the planted recovery: the
    oracle asserts entity_id = 4k and the exact cluster sizes.

    Scale: the block join is the only quadratic step and is bounded per
    block; edges carry ids only; CC is the attested min-label plan
    (shallow clusters: diameter ≤ 2 by construction)."""
    from fusionspark.operators.dedup import connected_components

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    clean = F.concat_ws(
        "",
        F.transform(
            F.split(F.lpad(F.col("k").cast("string"), 6, "0"), ""),
            lambda d: F.repeat(F.chr(F.lit(97) + d.cast("int")), 4),
        ),
    )
    base = c.select("k", clean.alias("clean"))
    variants = base.select(
        "k", "clean",
        F.explode(
            F.filter(
                F.array(
                    F.lit(0), F.lit(1),
                    F.when(F.col("k") % 3 == 0, F.lit(2)),
                    F.when(F.col("k") % 5 == 0, F.lit(3)),
                ),
                lambda v: v.isNotNull(),
            )
        ).alias("v"),
    )
    name = (
        F.when(F.col("v") <= 1, F.col("clean"))
        .when(
            F.col("v") == 2,
            F.concat(
                F.substring("clean", 1, 8), F.lit("x"), F.substring("clean", 10, 15)
            ),
        )
        .otherwise(
            F.concat(
                F.substring("clean", 1, 12), F.lit("y"), F.substring("clean", 14, 11)
            )
        )
    )
    # r15: spread the records BEFORE checkpointing (guide §2.6) — the
    # customer scan is one split at bench SFs and the block join
    # broadcasts its right side, so without this the whole ~7M-pair
    # Levenshtein grid ran in ONE task (measured 7.0s of the entry's
    # 9.2s).  Round-robin over the default parallelism keeps every
    # block's pair work spread across cores; the exchange is ids+names
    # only, never pairs, and r16's io.spread gate skips it when the scan
    # already arrives multi-split (the 100 TB case).
    from fusionspark.io import spread

    records = spread(
        variants.select(
            (F.col("k") * 4 + F.col("v")).cast("long").alias("record_id"),
            F.col("k").alias("custkey"),
            name.alias("name"),
        )
    ).localCheckpoint(eager=True)
    blocked = records.select(
        "record_id", "name", F.substring("name", 17, 8).alias("blk")
    )
    a = blocked.select(
        F.col("blk"), F.col("record_id").alias("id_a"), F.col("name").alias("na")
    )
    b = blocked.select(
        F.col("blk"), F.col("record_id").alias("id_b"), F.col("name").alias("nb")
    )
    # bounded Levenshtein: the threshold form abandons a row's DP as soon
    # as the band exceeds 2, turning the O(|a|·|b|) matrix into O(k·|a|)
    # per pair — measured 50× on the 7.4M-pair block grid (38.8s → 0.7s)
    bounded = F.levenshtein("na", "nb", 2)
    edges = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((bounded >= 0) & (bounded <= 2))
        .select("id_a", "id_b")
    )
    cc = connected_components(edges, records.select("record_id"), id_col="record_id")
    labeled = records.join(cc, "record_id").select(
        "record_id", "custkey", F.col("component").alias("entity_id")
    )
    sizes = labeled.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labeled.join(sizes, "entity_id").select(
        "record_id", "custkey", "entity_id", "cluster_size"
    )


@query(
    "weighted_sample_grouped",
    """
    SELECT lang, doc_id, n_chars, sample_key FROM (
        SELECT lang, doc_id, n_chars,
               ROUND(ln((('0x' || substr(md5('wsg:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                        / 4294967296.0)
                     / CAST(n_chars AS DOUBLE), 6) + 0.0 AS sample_key,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ROUND(ln((('0x' || substr(md5('wsg:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                                     / 4294967296.0)
                                  / CAST(n_chars AS DOUBLE), 6) DESC,
                            doc_id ASC) AS rn
        FROM documents WHERE n_chars > 0
    ) WHERE rn <= 40
    """,
)
def weighted_sample_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling without replacement: an independent
    Efraimidis-Spirakis A-Res draw per language, 40 docs each with
    inclusion probability ∝ n_chars — the per-stratum form of
    weighted_sample (uniform-per-group is cluster_balanced_sample; this
    is the weighted completion of the sampling family).  Same md5-coin
    contract and the same ROUNDED-key cut discipline (the r9
    weighted_sample lesson applied from day one: the per-group
    k-boundary compares round(ln(u)/w, 6) with a doc_id tiebreak, never
    raw transcendental doubles).

    Scale: one scan computing the key, one per-group window —
    WindowGroupLimit pushes the per-group top-k into partial ranks, so
    only ~k rows per (group, partition) reach the shuffle."""
    from pyspark.sql import Window as W

    from fusionspark.operators.sampling import sample_coin

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    key = F.round(
        F.log(sample_coin(F.col("doc_id"), "wsg:"))
        / F.col("n_chars").cast("double"),
        6,
    ) + F.lit(0.0)
    w = W.partitionBy("lang").orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
    return (
        d.select("lang", "doc_id", "n_chars", key.alias("sample_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .drop("rn")
    )


# Discrete-Laplace (two-sided geometric) inverse-CDF thresholds over the
# md5-coin range [0, 2^32), epsilon = 1: P(X=k) ∝ e^{-|k|}.  Noise is
# the first k (ascending from -_DL_K) whose threshold exceeds the hash —
# INTEGER comparisons only (the bootstrap_ci _POIS_T discipline), so any
# engine that agrees on md5 agrees on every noise draw.
import math as _math

_DL_K = 25
_DL_T: list[tuple[int, int]] = []
_a = _math.exp(-1.0)
_cum = 0.0
for _k in range(-_DL_K, _DL_K):
    _cum += (1 - _a) / (1 + _a) * _a ** abs(_k)
    _DL_T.append((_k, min(_math.ceil(_cum * 2**32), 2**32)))


def _dl_noise_sql(h: str) -> str:
    out = "CASE"
    for k, t in _DL_T:
        out += f" WHEN {h} < {t} THEN {k}"
    return out + f" ELSE {_DL_K} END"


def _dl_noise_col(h):
    expr = None
    for k, t in _DL_T:
        expr = (
            F.when(h < t, k) if expr is None else expr.when(h < t, k)
        )
    return expr.otherwise(F.lit(_DL_K))


@query(
    "dp_counts",
    f"""
    WITH g AS (
        SELECT source, COUNT(*)::BIGINT AS n,
               ('0x' || substr(md5('dp:' || source), 1, 8))::BIGINT AS h
        FROM documents GROUP BY source
    )
    SELECT source, n,
           ({_dl_noise_sql('h')})::BIGINT AS noise,
           (n + ({_dl_noise_sql('h')}))::BIGINT AS n_noisy,
           1.0 AS epsilon
    FROM g
    """,
)
def dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private per-source counts via the GEOMETRIC
    MECHANISM (discrete Laplace, Ghosh-Roughgarden-Sundararajan: the
    utility-optimal mechanism for counting queries) — completing the
    privacy ladder k_anonymity → l_diversity → t_closeness with the
    noise-based regime.  The draw is an md5 coin pushed through the
    exact inverse CDF as ~50 INTEGER threshold comparisons (the
    bootstrap_ci _POIS_T discipline): deterministic, engine-replayable,
    zero float ops in the noise path.  The true count is emitted HERE so
    the oracle attests the mechanism (noise = CDF⁻¹(u) exactly); a
    production release would project it away — and a per-release salt
    would replace 'dp:' (a FIXED salt re-releases the same noise, which
    composes; this query attests one release).

    Scale: one groupBy(source) with map-side combine; noise is a scalar
    expression on the bounded group frame."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    h = md5_hash32(F.concat(F.lit("dp:"), F.col("source")))
    noise = _dl_noise_col(h).cast("long")
    return g.select(
        "source", "n",
        noise.alias("noise"),
        (F.col("n") + noise).cast("long").alias("n_noisy"),
        F.lit(1.0).alias("epsilon"),
    )


KN_PERPLEXITY_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    bgl AS (
        SELECT doc_id, i.i AS i,
               ws[i.i] AS w1, ws[i.i + 1] AS w2
        FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) i(i)
    ),
    bgc AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM bgl GROUP BY w1, w2),
    ctx AS (
        SELECT w1, SUM(c12)::BIGINT AS ctx, COUNT(*)::BIGINT AS n1fw
        FROM bgc GROUP BY w1
    ),
    n1bw AS (SELECT w2, COUNT(*)::BIGINT AS n1bw FROM bgc GROUP BY w2),
    n1tot AS (SELECT COUNT(*)::BIGINT AS n1tot FROM bgc),
    scored AS (
        SELECT l.doc_id, l.i,
               ln((greatest(COALESCE(bgc.c12, 0)::DOUBLE - 0.75, 0.0)
                   + 0.75 * ctx.n1fw::DOUBLE
                          * COALESCE(n1bw.n1bw, 0)::DOUBLE / n1tot.n1tot::DOUBLE)
                  / ctx.ctx::DOUBLE) AS lp
        FROM bgl l
        LEFT JOIN bgc ON bgc.w1 = l.w1 AND bgc.w2 = l.w2
        LEFT JOIN ctx ON ctx.w1 = l.w1
        LEFT JOIN n1bw ON n1bw.w2 = l.w2
        CROSS JOIN n1tot
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
               list_reduce(list_prepend(0.0, list(lp ORDER BY i)),
                           (a, x) -> a + x) AS sum_lp
        FROM scored GROUP BY doc_id
    )
    SELECT w.doc_id,
           COALESCE(p.n_bigrams, 0)::BIGINT AS n_bigrams,
           ROUND(COALESCE(p.sum_lp / p.n_bigrams, 0.0), 6) AS avg_logprob,
           ROUND(exp(-COALESCE(p.sum_lp / p.n_bigrams, 0.0)), 6)
               AS kn_perplexity
    FROM ws w LEFT JOIN per_doc p ON p.doc_id = w.doc_id
    """


@query("kn_perplexity", KN_PERPLEXITY_ORACLE)
def kn_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity
    (textstats.kn_perplexity_scores) — the industry-standard smoothing
    beside lm_perplexity's add-k form; same broadcast-model scale
    contract, but the per-doc mean is a position-ORDERED IEEE fold in
    both engines (the chi2/source_divergence discipline) instead of a
    bare float SUM."""
    from fusionspark.operators.textstats import kn_perplexity_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_perplexity_scores(docs)


@query(
    "luhn_check",
    """
    WITH planted AS (
        -- 15 base digits from the doc id (deterministic), then the real
        -- Luhn check digit; odd docs get the check digit off by one
        SELECT doc_id,
               lpad((doc_id * 2654435761 % 1000000000)::VARCHAR, 9, '0')
               || lpad((doc_id % 1000000)::VARCHAR, 6, '0') AS base
        FROM documents
    ),
    summed AS (
        SELECT doc_id, base,
               list_reduce(list_prepend(0, list_transform(
                   generate_series(1, 15),
                   i -> CASE WHEN (15 - i) % 2 = 0
                             THEN CASE WHEN base[i]::INT * 2 > 9
                                       THEN base[i]::INT * 2 - 9
                                       ELSE base[i]::INT * 2 END
                             ELSE base[i]::INT END)),
                   (a, x) -> a + x) AS s
        FROM planted
    ),
    numbered AS (
        SELECT doc_id,
               base || (((10 - s % 10) % 10 + (doc_id % 2)) % 10)::VARCHAR AS number
        FROM summed
    ),
    checked AS (
        SELECT doc_id, number,
               list_reduce(list_prepend(0, list_transform(
                   generate_series(1, 16),
                   i -> CASE WHEN (16 - i) % 2 = 1
                             THEN CASE WHEN number[i]::INT * 2 > 9
                                       THEN number[i]::INT * 2 - 9
                                       ELSE number[i]::INT * 2 END
                             ELSE number[i]::INT END)),
                   (a, x) -> a + x) AS total
        FROM numbered
    )
    SELECT doc_id, number, (total % 10 = 0) AS luhn_valid
    FROM checked
    """,
)
def luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum validation (ISO/IEC 7812) — the PII screen that
    separates a random 16-digit string from a REAL card/IMEI-shaped
    number, cutting the false-positive rate of the regex-only pii_redact
    pass.  The derived corpus plants a valid number on every even doc
    (15 deterministic digits + the true Luhn check digit); odd docs get
    the check digit shifted by one (mod 10), so both verdicts are
    exercised on every gate.  The validator is the exact integer Luhn
    fold — double every second digit from the right, subtract 9 above 9,
    sum mod 10 — as a pure column expression (zero shuffle, codegen'd);
    the oracle replays the same fold AND the check-digit construction."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    base = F.concat(
        F.lpad((F.col("doc_id") * 2654435761 % 1000000000).cast("string"), 9, "0"),
        F.lpad((F.col("doc_id") % 1000000).cast("string"), 6, "0"),
    )

    def luhn_sum(num, length, double_parity):
        # digit i (1-based from the left); double when the position from
        # the RIGHT (length - i) has the given parity
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(length)),
                lambda i: F.when(
                    (F.lit(length) - i) % 2 == double_parity,
                    F.when(
                        F.substring(num, 1, length).substr(i, F.lit(1)).cast("int") * 2 > 9,
                        F.substring(num, 1, length).substr(i, F.lit(1)).cast("int") * 2 - 9,
                    ).otherwise(
                        F.substring(num, 1, length).substr(i, F.lit(1)).cast("int") * 2
                    ),
                ).otherwise(
                    F.substring(num, 1, length).substr(i, F.lit(1)).cast("int")
                ),
            ),
            F.lit(0),
            lambda a, x: a + x,
        )

    planted = d.select("doc_id", base.alias("base"))
    s = luhn_sum(F.col("base"), 15, 0)
    number = F.concat(
        F.col("base"),
        (((10 - s % 10) % 10 + F.col("doc_id") % 2) % 10).cast("string"),
    )
    numbered = planted.select("doc_id", number.alias("number"))
    total = luhn_sum(F.col("number"), 16, 1)
    return numbered.select(
        "doc_id", "number", (total % 10 == 0).alias("luhn_valid")
    )


@query(
    "feature_mi",
    f"""
    WITH labeled AS (
        SELECT doc_id,
               CASE WHEN source IN ('src0','src1','src2','src3','src4')
                    THEN 1 ELSE 0 END AS cls,
               {_WORDS} AS ws
        FROM documents
    ),
    nn AS (SELECT COUNT(*)::BIGINT AS n, SUM(cls)::BIGINT AS n_pos FROM labeled),
    presence AS (
        SELECT w.w AS word, l.cls, COUNT(DISTINCT l.doc_id)::BIGINT AS nd
        FROM labeled l, unnest(list_distinct(l.ws)) AS w(w)
        GROUP BY w.w, l.cls
    ),
    grid AS (
        SELECT word,
               COALESCE(MAX(CASE WHEN cls = 1 THEN nd END), 0)::BIGINT AS n11,
               COALESCE(MAX(CASE WHEN cls = 0 THEN nd END), 0)::BIGINT AS n10
        FROM presence GROUP BY word
    ),
    cells AS (
        SELECT word, n11, n10,
               (nn.n_pos - n11)::BIGINT AS n01,
               (nn.n - nn.n_pos - n10)::BIGINT AS n00,
               nn.n AS n, nn.n_pos AS n_pos
        FROM grid CROSS JOIN nn
    ),
    mi AS (
        SELECT word, n11 + n10 AS df,
               (CASE WHEN n11 > 0 THEN (n11::DOUBLE / n)
                     * ln(n11::DOUBLE * n / ((n11 + n10)::DOUBLE * n_pos))
                     ELSE 0.0 END
              + CASE WHEN n10 > 0 THEN (n10::DOUBLE / n)
                     * ln(n10::DOUBLE * n / ((n11 + n10)::DOUBLE * (n - n_pos)))
                     ELSE 0.0 END
              + CASE WHEN n01 > 0 THEN (n01::DOUBLE / n)
                     * ln(n01::DOUBLE * n / ((n01 + n00)::DOUBLE * n_pos))
                     ELSE 0.0 END
              + CASE WHEN n00 > 0 THEN (n00::DOUBLE / n)
                     * ln(n00::DOUBLE * n / ((n01 + n00)::DOUBLE * (n - n_pos)))
                     ELSE 0.0 END) AS mi
        FROM cells
    )
    SELECT word, df::BIGINT AS df, ROUND(mi, 6) AS mi
    FROM mi
    ORDER BY ROUND(mi, 6) DESC, word ASC
    LIMIT 20
    """,
)
def feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between word PRESENCE and the curated-source
    label — the feature-selection readout for the NB quality classifier
    (which words carry label signal at all?).  Doc-level presence keeps
    the 2×2 grid exact: n11/n10 from one distinct-words explode, n01/n00
    by complement; each of the four MI terms is a closed form over those
    integers, summed in the FIXED textual order 11,10,01,00 (identical
    expression trees, so no fold needed), zero-count cells contributing
    exactly 0.  The top-k cut orders by the ROUNDED score with the word
    as tiebreak (the weighted_sample discipline).

    Scale: one distinct-words explode → one (word, cls) groupBy; the MI
    arithmetic runs on the vocabulary frame."""
    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id",
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
        .cast("int")
        .alias("cls"),
        F.filter(F.split(F.lower("text"), " "), lambda w: w != "").alias("ws"),
    )
    nn = labeled.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cls").cast("long").alias("n_pos"),
    )
    presence = (
        labeled.select("doc_id", "cls", F.explode(F.array_distinct("ws")).alias("word"))
        .groupBy("word", "cls")
        .agg(F.countDistinct("doc_id").cast("long").alias("nd"))
    )
    grid = presence.groupBy("word").agg(
        F.coalesce(F.max(F.when(F.col("cls") == 1, F.col("nd"))), F.lit(0))
        .cast("long")
        .alias("n11"),
        F.coalesce(F.max(F.when(F.col("cls") == 0, F.col("nd"))), F.lit(0))
        .cast("long")
        .alias("n10"),
    )
    cells = grid.crossJoin(F.broadcast(nn)).select(
        "word", "n11", "n10",
        (F.col("n_pos") - F.col("n11")).cast("long").alias("n01"),
        (F.col("n") - F.col("n_pos") - F.col("n10")).cast("long").alias("n00"),
        "n", "n_pos",
    )

    def term(nij, marg_w, marg_c):
        return F.when(
            nij > 0,
            (nij.cast("double") / F.col("n"))
            * F.log(
                nij.cast("double") * F.col("n")
                / (marg_w.cast("double") * marg_c)
            ),
        ).otherwise(F.lit(0.0))

    n11, n10 = F.col("n11"), F.col("n10")
    n01, n00 = F.col("n01"), F.col("n00")
    npos, nneg = F.col("n_pos"), F.col("n") - F.col("n_pos")
    mi = (
        term(n11, n11 + n10, npos)
        + term(n10, n11 + n10, nneg)
        + term(n01, n01 + n00, npos)
        + term(n00, n01 + n00, nneg)
    )
    out = cells.select(
        "word",
        (n11 + n10).cast("long").alias("df"),
        F.round(mi, 6).alias("mi"),
    )
    return out.orderBy(F.col("mi").desc(), F.col("word").asc()).limit(20)


@query(
    "csv_parse",
    """
    SELECT doc_id,
           'title, "q' || (doc_id % 7)::VARCHAR || '" end' AS title,
           lang, n_chars AS n
    FROM documents
    """,
)
def csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV field parsing as a column expression (from_csv —
    JVM-side, no Python): the derived corpus renders each doc as a CSV
    line whose second field contains BOTH an embedded comma and doubled
    escape quotes ("" → "), the two quoting rules naive string_split
    ingestion corrupts; the parser must recover the exact original
    fields, which the oracle states by construction.  At 100 TB this is
    the landing-zone decode step for text exports — one narrow
    expression per row, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.col("doc_id").cast("string"),
        F.lit(',"title, ""q'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('"" end",'),
        F.col("lang"),
        F.lit(","),
        F.col("n_chars").cast("string"),
    )
    parsed = d.select(
        F.from_csv(
            line,
            F.lit("id LONG, title STRING, lang STRING, n LONG"),
            # RFC 4180 doubles the quote char to escape it; Spark's CSV
            # default escape is backslash, so set escape='"'
            {"escape": '"'},
        ).alias("r")
    )
    return parsed.select(
        F.col("r.id").alias("doc_id"),
        F.col("r.title").alias("title"),
        F.col("r.lang").alias("lang"),
        F.col("r.n").alias("n"),
    )


@query(
    "sitemap_parse",
    """
    WITH xml AS (
        SELECT source,
               '<?xml version="1.0"?><urlset>'
               || '<url><loc>https://' || source || '.example.com/p0</loc>'
               || '<lastmod>2026-01-' || lpad(((substr(source, 4)::BIGINT % 27) + 1)::VARCHAR, 2, '0')
               || '</lastmod></url>'
               || '<url><loc>https://' || source || '.example.com/p1</loc>'
               || '<lastmod>2026-02-' || lpad(((substr(source, 4)::BIGINT % 27) + 2)::VARCHAR, 2, '0')
               || '</lastmod></url></urlset>' AS body
        FROM (SELECT DISTINCT source FROM documents)
    ),
    locs AS (
        SELECT source,
               regexp_extract_all(body, '<loc>([^<]*)</loc>', 1) AS ls,
               regexp_extract_all(body, '<lastmod>([^<]*)</lastmod>', 1) AS ms
        FROM xml
    )
    SELECT source, i.i::BIGINT AS pos, ls[i.i] AS loc, ms[i.i] AS lastmod
    FROM locs, unnest(generate_series(1, len(ls))) i(i)
    """,
)
def sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML extraction — the crawl-frontier feeder beside
    robots_rules: derive a per-site sitemap and pull (loc, lastmod)
    pairs positionally with the same regex chain in BOTH engines (the
    oracle RE-PARSES the same XML, not just the construction law — the
    robots_rules attestation standard).  Regex extraction is the honest
    tool here: sitemaps are machine-generated, schema-fixed XML, and at
    100 TB the extraction must stay a codegen'd expression, not a DOM
    parse per row."""
    d = load_table(spark, sf_dir, "documents")
    k = F.substring("source", 4, 10).cast("long")
    body = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/p0</loc><lastmod>2026-01-"),
        F.lpad(((k % 27) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></url>"),
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/p1</loc><lastmod>2026-02-"),
        F.lpad(((k % 27) + 2).cast("string"), 2, "0"),
        F.lit("</lastmod></url></urlset>"),
    )
    xml = d.select("source").distinct().select("source", body.alias("body"))
    locs = xml.select(
        "source",
        F.regexp_extract_all("body", F.lit("<loc>([^<]*)</loc>"), 1).alias("ls"),
        F.regexp_extract_all(
            "body", F.lit("<lastmod>([^<]*)</lastmod>"), 1
        ).alias("ms"),
    )
    return locs.select(
        "source",
        F.posexplode(F.arrays_zip("ls", "ms")).alias("p", "z"),
    ).select(
        "source",
        (F.col("p") + 1).cast("long").alias("pos"),
        F.col("z.ls").alias("loc"),
        F.col("z.ms").alias("lastmod"),
    )


@query(
    "hashing_collisions",
    f"""
    WITH vocab AS (
        SELECT DISTINCT w.w AS w
        FROM (SELECT {_WORDS} AS ws FROM documents) d, unnest(d.ws) AS w(w)
    ),
    bucketed AS (
        SELECT ('0x' || substr(md5('fh:' || w), 1, 8))::BIGINT % 16 AS dim,
               COUNT(*)::BIGINT AS n_words
        FROM vocab GROUP BY 1
    ),
    tot AS (
        SELECT SUM(n_words)::BIGINT AS v,
               SUM(CASE WHEN n_words > 1 THEN n_words - 1 ELSE 0 END)::BIGINT
                   AS collided
        FROM bucketed
    )
    SELECT b.dim, b.n_words,
           ROUND(b.n_words::DOUBLE / t.v, 6) AS load_share,
           t.v AS vocab_size,
           ROUND(t.collided::DOUBLE / t.v, 6) AS collision_rate
    FROM bucketed b CROSS JOIN tot t
    """,
)
def hashing_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision audit of the hashing trick behind hashed_features /
    lang_id_trained: per hash bucket, how many distinct vocabulary words
    share it, plus the global collision rate (fraction of words that are
    NOT alone in their bucket beyond the first).  The diagnosis that
    tells you whether the 16-dim feature space is aliasing signal away —
    run it before trusting a hashed model, and re-run when vocabulary
    grows (at 100 TB the vocab frame is still tiny next to the corpus).
    Exact distinct-word counts; the two ratios are the only doubles.
    Same md5 bucket law as hashed_features ('fh:' salt, mod 16)."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
            ).alias("w")
        )
        .distinct()
    )
    bucketed = vocab.groupBy(
        (md5_hash32(F.concat(F.lit("fh:"), F.col("w"))) % 16).alias("dim")
    ).agg(F.count("*").cast("long").alias("n_words"))
    tot = bucketed.agg(
        F.sum("n_words").cast("long").alias("v"),
        F.sum(
            F.when(F.col("n_words") > 1, F.col("n_words") - 1).otherwise(0)
        )
        .cast("long")
        .alias("collided"),
    )
    return bucketed.crossJoin(F.broadcast(tot)).select(
        "dim", "n_words",
        F.round(F.col("n_words").cast("double") / F.col("v"), 6)
        .alias("load_share"),
        F.col("v").alias("vocab_size"),
        F.round(F.col("collided").cast("double") / F.col("v"), 6)
        .alias("collision_rate"),
    )


# ---------------------------------------------------------------------------
# Round 11: post-training data ops — GRPO advantages, ROUGE eval
# ---------------------------------------------------------------------------


@query(
    "grpo_advantages",
    """
    WITH r AS (
        SELECT doc_id, doc_id // 8 AS prompt_id,
               ('0x' || substr(md5('grpo:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 % 101 AS reward
        FROM documents
    ),
    g AS (
        SELECT prompt_id, COUNT(*)::BIGINT AS k, SUM(reward)::BIGINT AS s,
               SUM(reward * reward)::BIGINT AS s2
        FROM r GROUP BY prompt_id
    )
    SELECT r.prompt_id::BIGINT AS prompt_id, r.doc_id, r.reward::BIGINT AS reward,
           CASE WHEN g.k * g.s2 = g.s * g.s THEN 0.0
                ELSE ROUND((g.k * r.reward - g.s)::DOUBLE
                           / sqrt((g.k * g.s2 - g.s * g.s)::DOUBLE), 6)
           END AS advantage
    FROM r JOIN g USING (prompt_id)
    """,
)
def grpo_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage computation (GRPO, Shao et al. 2024) — the
    RL-post-training data op that replaces a learned value baseline with
    the group statistic: documents bucket into prompt groups of 8
    (standing in for k sampled responses per prompt), rewards are
    md5-derived integers, and each response's advantage is its reward
    standardized WITHIN the group, (r − mean)/std with the population
    std.  Zero-variance groups get advantage 0 (the degenerate-group
    convention, gated on exact integers).

    Parity: the whole statistic reduces to (k·r − S)/√(k·Σr² − S²) — an
    exact-BIGINT numerator and an exact-BIGINT radicand, so ONE
    correctly-rounded IEEE sqrt and ONE division produce bit-identical
    doubles on both engines (no float accumulation anywhere).

    Scale: one groupBy(prompt_id) on bounded groups + a co-partitioned
    join back — the same two-exchange shape at any corpus size; group
    stats broadcast if the prompt table is small."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    r = d.select(
        "doc_id",
        F.expr("doc_id div 8").alias("prompt_id"),
        (
            md5_hash32(F.concat(F.lit("grpo:"), F.col("doc_id").cast("string")))
            % 101
        ).alias("reward"),
    )
    g = r.groupBy("prompt_id").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("reward").cast("long").alias("s"),
        F.sum(F.col("reward") * F.col("reward")).cast("long").alias("s2"),
    )
    j = r.join(g, "prompt_id")
    rad = F.col("k") * F.col("s2") - F.col("s") * F.col("s")
    return j.select(
        F.col("prompt_id").cast("long").alias("prompt_id"),
        "doc_id",
        F.col("reward").cast("long").alias("reward"),
        F.when(rad == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("k") * F.col("reward") - F.col("s")).cast("double")
                / F.sqrt(rad.cast("double")),
                6,
            )
        )
        .alias("advantage"),
    )


_ROUGE_LEAD = 25
_ROUGE_MIN_WORDS = 40


@query(
    "rouge_eval",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sp AS (
        SELECT doc_id, words[1:{_ROUGE_LEAD}] AS cand,
               words[{_ROUGE_LEAD + 1}:] AS ref
        FROM w WHERE len(words) >= {_ROUGE_MIN_WORDS}
    ),
    cu AS (
        SELECT doc_id, u AS gram, COUNT(*)::BIGINT AS c
        FROM sp, unnest(cand) AS t(u) GROUP BY 1, 2
    ),
    ru AS (
        SELECT doc_id, u AS gram, COUNT(*)::BIGINT AS c
        FROM sp, unnest(ref) AS t(u) GROUP BY 1, 2
    ),
    o1 AS (
        SELECT cu.doc_id, SUM(LEAST(cu.c, ru.c))::BIGINT AS ov
        FROM cu JOIN ru ON cu.doc_id = ru.doc_id AND cu.gram = ru.gram
        GROUP BY cu.doc_id
    ),
    cb AS (
        SELECT doc_id, b AS gram, COUNT(*)::BIGINT AS c
        FROM sp, unnest(list_transform(generate_series(1, len(cand) - 1),
                        i -> cand[i] || ' ' || cand[i + 1])) AS t(b)
        GROUP BY 1, 2
    ),
    rb AS (
        SELECT doc_id, b AS gram, COUNT(*)::BIGINT AS c
        FROM sp, unnest(list_transform(generate_series(1, len(ref) - 1),
                        i -> ref[i] || ' ' || ref[i + 1])) AS t(b)
        GROUP BY 1, 2
    ),
    o2 AS (
        SELECT cb.doc_id, SUM(LEAST(cb.c, rb.c))::BIGINT AS ov
        FROM cb JOIN rb ON cb.doc_id = rb.doc_id AND cb.gram = rb.gram
        GROUP BY cb.doc_id
    )
    SELECT sp.doc_id,
           len(sp.ref)::BIGINT AS n_ref_words,
           COALESCE(o1.ov, 0)::BIGINT AS ov1,
           COALESCE(o2.ov, 0)::BIGINT AS ov2,
           ROUND(2.0 * COALESCE(o1.ov, 0)
                 / ({_ROUGE_LEAD} + len(sp.ref)), 6) AS rouge1_f,
           ROUND(2.0 * COALESCE(o2.ov, 0)
                 / ({_ROUGE_LEAD - 1} + len(sp.ref) - 1), 6) AS rouge2_f
    FROM sp LEFT JOIN o1 ON sp.doc_id = o1.doc_id
            LEFT JOIN o2 ON sp.doc_id = o2.doc_id
    """,
)
def rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/-2 F1 as a data operator — the generation-eval metric
    (Lin 2004) run the way an eval pipeline runs it over a results
    table: per doc, the 25-word lead stands in for the candidate summary
    and the remaining body for the reference, scoring how much of the
    body's content the lead already covers (lead-bias / extractiveness
    diagnosis — the same clipped-count machinery scores real
    model-output-vs-reference pairs).  Overlap is the CLIPPED gram count
    Σ_g min(cnt_cand(g), cnt_ref(g)), the detail naive set-intersection
    gets wrong on repeated grams; F1 reduces to 2·overlap/(|cand|+|ref|)
    so no separate P/R division is needed.

    Parity: overlaps and gram lengths are exact BIGINTs, one division
    per score.  Scale: explode → count → equi-join keyed (doc_id, gram)
    — co-partitioned shuffles with map-side combine; no pairwise doc
    comparison anywhere (the metric is within-doc)."""
    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    d = load_table(spark, sf_dir, "documents").select("doc_id", ws.alias("words"))
    sp = d.filter(F.size("words") >= _ROUGE_MIN_WORDS).select(
        "doc_id",
        F.slice("words", 1, _ROUGE_LEAD).alias("cand"),
        F.expr(
            f"slice(words, {_ROUGE_LEAD + 1}, size(words) - {_ROUGE_LEAD})"
        ).alias("ref"),
    ).localCheckpoint(eager=True)

    def gram_counts(col: str, bigram: bool):
        if bigram:
            arr = F.expr(
                f"transform(sequence(1, size({col}) - 1),"
                f" i -> concat(element_at({col}, i), ' ', element_at({col}, i + 1)))"
            )
        else:
            arr = F.col(col)
        return (
            sp.select("doc_id", F.explode(arr).alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count("*").cast("long").alias("c"))
        )

    def overlap(bigram: bool):
        cu = gram_counts("cand", bigram)
        ru = gram_counts("ref", bigram)
        return (
            cu.join(ru, ["doc_id", "gram"])
            .groupBy("doc_id")
            .agg(F.sum(F.least(cu["c"], ru["c"])).cast("long").alias("ov"))
        )

    o1, o2 = overlap(False), overlap(True)
    base = sp.select("doc_id", F.size("ref").cast("long").alias("n_ref_words"))
    j = (
        base.join(o1.withColumnRenamed("ov", "ov1"), "doc_id", "left")
        .join(o2.withColumnRenamed("ov", "ov2"), "doc_id", "left")
        .na.fill({"ov1": 0, "ov2": 0})
    )
    return j.select(
        "doc_id", "n_ref_words",
        F.col("ov1").cast("long").alias("ov1"),
        F.col("ov2").cast("long").alias("ov2"),
        F.round(
            2.0 * F.col("ov1") / (_ROUGE_LEAD + F.col("n_ref_words")), 6
        ).alias("rouge1_f"),
        F.round(
            2.0 * F.col("ov2") / (_ROUGE_LEAD - 1 + F.col("n_ref_words") - 1), 6
        ).alias("rouge2_f"),
    )


# ---------------------------------------------------------------------------
# Round 11: content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

_CDC_W = 4       # rolling window: the boundary decision reads 4 words
_CDC_MASK = 16   # cut when H32(window) % 16 == 0 → ~16-word avg chunks
_CDC_KEY = 1 << 20  # composite (doc_id, idx) integer key stride


@query(
    "cdc_chunking",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS ws FROM documents
    ),
    cut AS (
        SELECT doc_id, ws,
               -- list_distinct does NOT preserve order in DuckDB: sort
               list_sort(list_distinct(list_concat(list_concat([0],
                   list_filter(range({_CDC_W}, len(ws) + 1),
                       i -> ('0x' || substr(md5(
                                array_to_string(ws[i - {_CDC_W - 1}:i], ' ')),
                             1, 8))::BIGINT % {_CDC_MASK} = 0)),
                   [len(ws)]))) AS cuts
        FROM w WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(cuts) - 1),
                   j -> array_to_string(ws[cuts[j] + 1:cuts[j + 1]], ' '))
                 AS chunks
        FROM cut
    ),
    ex AS (
        SELECT doc_id, i - 1 AS idx, chunks[i] AS chunk
        FROM ch, unnest(generate_series(1, len(chunks))) AS t(i)
    ),
    keyed AS (
        SELECT doc_id, md5(chunk) AS h,
               doc_id * {_CDC_KEY} + idx AS k
        FROM ex
    ),
    firsts AS (SELECT h, MIN(k)::BIGINT AS f FROM keyed GROUP BY h)
    SELECT keyed.doc_id,
           COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN keyed.k <> firsts.f THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_chunks,
           ROUND(SUM(CASE WHEN keyed.k <> firsts.f THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS dup_frac
    FROM keyed JOIN firsts USING (h)
    GROUP BY keyed.doc_id
    """,
)
def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/rsync family, word
    granularity): a chunk boundary falls after word i wherever the
    md5-rolling-window hash of words [i−3, i] is ≡ 0 (mod 16) — so
    boundaries are a function of CONTENT, not offset, and an insertion
    at a doc's head re-synchronizes within one window instead of
    shifting every chunk the way fixed-width chunking does (the pytest
    plants exactly that editing pattern and asserts CDC re-shares the
    tail chunks while fixed-width shares none).  Chunks then dedup
    globally by hash with the first-occurrence rule ((doc_id, idx)
    composite integer key), giving the per-doc duplicated-chunk fraction
    — the storage/near-dup readout between line_dedup (exact lines) and
    window_dedup (fixed stride).

    Parity: boundaries, chunk texts, and first-occurrence keys are all
    exact integer/string computations (the md5-int convention); the only
    division is the final per-doc fraction.  Scale: the chunker is ONE
    zero-shuffle Arrow kernel (an md5-per-position HOF expression ran
    interpreted — 80 s vs 2 s at sf0.1, the repetition_stats lesson);
    dedup is one groupBy(hash) + a co-partitioned join back — chunk
    hashes are the ONLY exchange keys, text never shuffles."""
    from fusionspark.operators.dedup import cdc_chunk_hashes

    d = load_table(spark, sf_dir, "documents")
    hashes = cdc_chunk_hashes(d, window=_CDC_W, mask=_CDC_MASK)
    keyed = hashes.select(
        "doc_id",
        "h",
        (F.col("doc_id") * _CDC_KEY + F.col("idx")).alias("k"),
    )
    firsts = keyed.groupBy("h").agg(F.min("k").cast("long").alias("f"))
    j = keyed.join(firsts, "h")
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum((F.col("k") != F.col("f")).cast("int")).cast("long").alias("n_dup_chunks"),
        F.round(
            F.sum((F.col("k") != F.col("f")).cast("int")).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Round 11: skip-gram training pairs with frequency subsampling
# ---------------------------------------------------------------------------

_SG_WIN = 2       # context window ±2 over the subsampled sequence
_SG_TOP = 50      # emitted top pairs
_SG_DEN = 1000    # keep probability = min(1, N_tokens / (1000 · f_w))


@query(
    "skipgram_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id, {_WORDS} AS ws FROM documents),
             unnest(generate_series(1, len(ws))) AS t(i)
    ),
    freq AS (SELECT w, COUNT(*)::BIGINT AS f FROM toks GROUP BY w),
    n AS (SELECT COUNT(*)::BIGINT AS n_tok FROM toks),
    thr AS (
        SELECT w, (((SELECT n_tok FROM n) * 4294967296)
                   // ({_SG_DEN} * f))::BIGINT AS t
        FROM freq
    ),
    kept AS (
        SELECT toks.doc_id, toks.w,
               ROW_NUMBER() OVER (PARTITION BY toks.doc_id
                                  ORDER BY toks.pos) AS cpos
        FROM toks JOIN thr USING (w)
        WHERE ('0x' || substr(md5('sg:' || toks.doc_id::VARCHAR || ':'
                                  || toks.pos::VARCHAR), 1, 8))::BIGINT
              < thr.t
    ),
    pairs AS (
        SELECT a.w AS center, b.w AS context
        FROM kept a JOIN kept b
          ON a.doc_id = b.doc_id
         AND b.cpos BETWEEN a.cpos - {_SG_WIN} AND a.cpos + {_SG_WIN}
         AND b.cpos <> a.cpos
    )
    SELECT center, context, COUNT(*)::BIGINT AS n_pairs
    FROM pairs GROUP BY center, context
    ORDER BY n_pairs DESC, center, context
    LIMIT {_SG_TOP}
    """,
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation (the word2vec/fastText data
    op): frequent-word subsampling DELETES occurrences, the surviving
    sequence COMPACTS (so windows span the gaps, exactly as word2vec's
    in-memory sentence does), and every (center, context) pair within
    ±2 compacted positions is emitted; top-50 pair counts returned.

    Documented deviation from Mikolov's sqrt(t/f) keep rule: the keep
    probability here is min(1, N/(1000·f)) so the PER-OCCURRENCE draw is
    an exact BIGINT comparison — md5-coin < (N·2³²) div (1000·f) — with
    no float sqrt anywhere near a cut (the r9 raw-double-cut lesson);
    the subsampling EFFECT (frequent words thinned, rare kept) is the
    same.  The div form bounds the product at N·2³² (overflow-safe to
    ~2e9 tokens; at larger N rescale the threshold arithmetic to
    DECIMAL(38) — a documented swap, not a semantic change).

    Scale: tokenize/explode is map-side; the keep filter is a broadcast
    threshold join keyed on the word; compaction is one per-doc window;
    the pair join is a co-partitioned (doc_id, position-range) self-join
    over the THINNED sequence — subsampling cuts the quadratic window
    fan-out exactly where corpora are densest.  Counts are exact ints;
    the top-k cut is (n_pairs DESC, center, context) — no floats in the
    whole query."""
    from pyspark.sql import Window as W

    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(ws).alias("pos", "w"))
    )
    freq = toks.groupBy("w").agg(F.count("*").cast("long").alias("f"))
    n = toks.agg(F.count("*").cast("long").alias("n_tok"))
    # `div`, not `/`: Spark's `/` is FLOAT division and a cast-truncate
    # after it can disagree with DuckDB's integer `//` at representation
    # boundaries (the raw-double-cut class) — integer div is exact
    thr = freq.crossJoin(F.broadcast(n)).select(
        "w",
        F.expr(f"(n_tok * 4294967296) div ({_SG_DEN} * f)")
        .cast("long")
        .alias("t"),
    )
    coin = md5_hash32(
        F.concat(
            F.lit("sg:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("pos").cast("string"),
        )
    )
    kept = (
        toks.join(F.broadcast(thr), "w")
        .filter(coin < F.col("t"))
        .select(
            "doc_id",
            "w",
            F.row_number()
            .over(W.partitionBy("doc_id").orderBy("pos"))
            .alias("cpos"),
        )
    )
    a = kept.select("doc_id", F.col("w").alias("center"), F.col("cpos").alias("ca"))
    b = kept.select("doc_id", F.col("w").alias("context"), F.col("cpos").alias("cb"))
    pairs = a.join(b, "doc_id").filter(
        (F.col("cb") >= F.col("ca") - _SG_WIN)
        & (F.col("cb") <= F.col("ca") + _SG_WIN)
        & (F.col("cb") != F.col("ca"))
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(_SG_TOP)
    )


# ---------------------------------------------------------------------------
# Round 11: DP median via the exponential mechanism
# ---------------------------------------------------------------------------

# Integer-quantized exponential-mechanism weights W[s] = floor(1e6 ·
# exp(−s/4)) for score s = |2·rank − n| (doubled distance from the
# median rank; ε = 1, sensitivity 2 in the doubled scale).  Computed
# ONCE in Python and embedded in BOTH engines, so no libm exp runs in
# either — the quantization truncates to 0 at s = 56, which bounds the
# total weight and keeps the inverse-CDF product (coin · total) inside
# BIGINT (≤ 2.4e17).  Quantization is a documented mechanism tweak: it
# only ever REMOVES far-from-median candidates (weight-0), which
# preserves the DP guarantee direction that matters for release.
import math as _math2

_DPQ_SCALE = 10**6
_DPQ_W: list[tuple[int, int]] = []
for _s in range(0, 200):
    _w = int(_math2.floor(_DPQ_SCALE * _math2.exp(-_s / 4.0)))
    if _w == 0:
        break
    _DPQ_W.append((_s, _w))
_DPQ_W_SQL = ", ".join(f"({s}, {w})" for s, w in _DPQ_W)


@query(
    "dp_quantile",
    f"""
    WITH spend AS (
        SELECT user_id, SUM(FLOOR(value * 100.0 + 0.5)::BIGINT)::BIGINT AS x
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    vals AS (SELECT x, COUNT(*)::BIGINT AS cnt FROM spend GROUP BY x),
    n AS (SELECT SUM(cnt)::BIGINT AS n FROM vals),
    ranked AS (
        SELECT x, SUM(cnt) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        FROM vals
    ),
    wt (s, w) AS (VALUES {_DPQ_W_SQL}),
    scored AS (
        SELECT x, abs(2 * cum - (SELECT n FROM n))::BIGINT AS s FROM ranked
    ),
    weighted AS (
        SELECT scored.x, COALESCE(wt.w, 0)::BIGINT AS w
        FROM scored LEFT JOIN wt USING (s)
    ),
    cw AS (
        SELECT x, SUM(w) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumw,
            SUM(w) OVER ()::BIGINT AS total
        FROM weighted
    ),
    pick AS (
        SELECT MIN(x)::BIGINT AS dp_median FROM cw
        WHERE cumw > (total * (('0x' || substr(md5('dpq:v1'), 1, 8))::BIGINT))
                     // 4294967296
    ),
    truth AS (
        SELECT x AS true_median FROM ranked, n
        WHERE cum >= (n.n + 1) // 2
        ORDER BY x LIMIT 1
    )
    SELECT n.n AS n_users, truth.true_median, pick.dp_median, 1.0 AS epsilon
    FROM n, truth, pick
    """,
)
def dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP MEDIAN of per-user purchase spend via the EXPONENTIAL
    MECHANISM (McSherry-Talwar) — the DP family's answer for
    non-counting statistics beside dp_counts' geometric mechanism:
    candidates are the distinct spend values, utility is −|2·rank − n|
    (doubled distance from the median rank, so it stays integral), and
    the release samples ∝ exp(−s/4).

    Parity/determinism: the weights are INTEGER-QUANTIZED Python-side
    (floor(1e6·e^{{−s/4}}), zero past s=55) and embedded in both engines,
    so NO libm exp runs anywhere near the release; the draw is one md5
    coin pushed through an exact integer inverse CDF ((total·u) div 2³²
    vs cumulative weights — products bounded ≤ 2.4e17, inside BIGINT).
    The true median is emitted so the oracle attests the mechanism; a
    production release projects it away and uses a per-release salt.

    Scale: per-user collapse, then windows over the bounded
    DISTINCT-value grid (the mann_whitney_u frame); the weight table is
    a 56-row broadcast."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    spend = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("x")
    )
    vals = spend.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    wcum = W.orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("x").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = vals.select(
        "x",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
    )
    wt = spark.createDataFrame(_DPQ_W, "s long, w long")
    weighted = (
        ranked.withColumn("s", F.abs(2 * F.col("cum") - F.col("n")))
        .join(F.broadcast(wt), "s", "left")
        .select("x", "n", "cum", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
    )
    cw = weighted.select(
        "x", "n", "cum",
        F.sum("w").over(wcum).cast("long").alias("cumw"),
        F.sum("w").over(wall).cast("long").alias("total"),
    )
    coin = md5_hash32(F.lit("dpq:v1"))
    pick = (
        cw.filter(
            F.col("cumw") > F.expr(f"(total * {int(__import__('hashlib').md5(b'dpq:v1').hexdigest()[:8], 16)}) div 4294967296")
        )
        .agg(F.min("x").cast("long").alias("dp_median"))
    )
    truth = (
        cw.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(
            F.min("x").cast("long").alias("true_median"),
            F.max("n").cast("long").alias("n_users"),
        )
    )
    return truth.crossJoin(F.broadcast(pick)).select(
        "n_users", "true_median", "dp_median", F.lit(1.0).alias("epsilon")
    )


# ---------------------------------------------------------------------------
# Round 11: greedy bigram-LM decoding
# ---------------------------------------------------------------------------

_LMG_STEPS = 5
_LMG_SEEDS = 3


@query(
    "lm_greedy_decode",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    toks AS (
        SELECT doc_id, i AS pos, words[i] AS w
        FROM w, unnest(generate_series(1, len(words))) AS t(i)
    ),
    big AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*)::BIGINT AS cnt
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.w, b.w
    ),
    uni AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY w),
    seeds AS (
        SELECT w AS seed FROM uni
        ORDER BY cnt DESC, w ASC LIMIT {_LMG_SEEDS}
    ),
    s0 AS (SELECT seed, seed AS cur FROM seeds),
    s1 AS (
        SELECT seed, w2 AS cur FROM (
            SELECT s0.seed, big.w2, ROW_NUMBER() OVER (
                PARTITION BY s0.seed ORDER BY big.cnt DESC, big.w2 ASC) AS rn
            FROM s0 JOIN big ON big.w1 = s0.cur) WHERE rn = 1
    ),
    s2 AS (
        SELECT seed, w2 AS cur FROM (
            SELECT s1.seed, big.w2, ROW_NUMBER() OVER (
                PARTITION BY s1.seed ORDER BY big.cnt DESC, big.w2 ASC) AS rn
            FROM s1 JOIN big ON big.w1 = s1.cur) WHERE rn = 1
    ),
    s3 AS (
        SELECT seed, w2 AS cur FROM (
            SELECT s2.seed, big.w2, ROW_NUMBER() OVER (
                PARTITION BY s2.seed ORDER BY big.cnt DESC, big.w2 ASC) AS rn
            FROM s2 JOIN big ON big.w1 = s2.cur) WHERE rn = 1
    ),
    s4 AS (
        SELECT seed, w2 AS cur FROM (
            SELECT s3.seed, big.w2, ROW_NUMBER() OVER (
                PARTITION BY s3.seed ORDER BY big.cnt DESC, big.w2 ASC) AS rn
            FROM s3 JOIN big ON big.w1 = s3.cur) WHERE rn = 1
    ),
    s5 AS (
        SELECT seed, w2 AS cur FROM (
            SELECT s4.seed, big.w2, ROW_NUMBER() OVER (
                PARTITION BY s4.seed ORDER BY big.cnt DESC, big.w2 ASC) AS rn
            FROM s4 JOIN big ON big.w1 = s4.cur) WHERE rn = 1
    )
    SELECT seed, step, word FROM (
        SELECT seed, 1 AS step, cur AS word FROM s1
        UNION ALL SELECT seed, 2, cur FROM s2
        UNION ALL SELECT seed, 3, cur FROM s3
        UNION ALL SELECT seed, 4, cur FROM s4
        UNION ALL SELECT seed, 5, cur FROM s5
    )
    """,
)
def lm_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding from the corpus bigram LM — the generation half of
    the LM family (lm_perplexity/kn_perplexity score; this DECODES): from
    each of the 3 most frequent seed words, take 5 greedy argmax steps
    next = argmax_w cnt(prev, w) with (count DESC, word ASC) ties — the
    deterministic skeleton of sampling-based decoding, and the
    degenerate-repetition diagnostic (greedy chains that loop reveal the
    corpus's dominant templates).  A dead-end chain (no continuation)
    truncates; each emitted step is one row (seed, step, word).

    Parity: argmax on exact integer counts with a word tiebreak — no
    floats anywhere; the oracle unrolls the 5 rounds as CTEs (the
    pagerank/markov pattern).  Scale: the bigram table is the one corpus
    shuffle (token-pair groupBy with map-side combine — the lm_perplexity
    frame); each decode round joins a ≤3-row frontier against it
    (broadcast frontier), so rounds cost |frontier|·fanout, not corpus."""
    from pyspark.sql import Window as W

    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(ws).alias("pos", "w"))
    )
    nxt = toks.select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("w").alias("w1"))
    big = (
        nxt.join(toks.select("doc_id", "pos", F.col("w").alias("w2")), ["doc_id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    uni = toks.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    seeds = (
        uni.orderBy(F.desc("cnt"), F.asc("w"))
        .limit(_LMG_SEEDS)
        .select(F.col("w").alias("seed"), F.col("w").alias("cur"))
    )
    frontier = seeds
    outs = []
    rnk = W.partitionBy("seed").orderBy(F.desc("cnt"), F.asc("w2"))
    for step in range(1, _LMG_STEPS + 1):
        stepped = (
            F.broadcast(frontier)
            .join(big, frontier["cur"] == big["w1"])
            .withColumn("rn", F.row_number().over(rnk))
            .filter(F.col("rn") == 1)
            .select("seed", F.col("w2").alias("cur"))
        )
        frontier = stepped.localCheckpoint(eager=True)
        outs.append(
            frontier.select(
                "seed", F.lit(step).cast("int").alias("step"), F.col("cur").alias("word")
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Round 11: unseen-vocabulary estimation (Chao1 / Good-Turing)
# ---------------------------------------------------------------------------


@query(
    "vocab_chao1",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    toks AS (
        SELECT array_to_string(ws[i:i + 3], ' ') AS g
        FROM w, unnest(generate_series(1, len(ws) - 3)) AS t(i)
    ),
    freq AS (SELECT g, COUNT(*)::BIGINT AS f FROM toks GROUP BY g),
    spec AS (
        SELECT COUNT(*)::BIGINT AS d,
               SUM(f)::BIGINT AS n,
               SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
               SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
        FROM freq
    )
    SELECT n AS n_tokens, d AS n_distinct, f1, f2,
           ROUND(d + (f1 * (f1 - 1))::DOUBLE / (2 * (f2 + 1)), 6) AS chao1,
           ROUND(f1::DOUBLE / n, 6) AS p_unseen
    FROM spec
    """,
)
def vocab_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation — the corpus-growth question every
    data-acquisition plan asks ("how much vocabulary would more crawl
    uncover?"): Chao1's bias-corrected richness estimate D + f1(f1−1)/
    (2(f2+1)) from the frequency-of-frequencies spectrum (Chao 1984),
    plus the Good-Turing unseen-mass estimate P₀ = f1/N — the
    probability the NEXT draw is a never-seen type.  The TYPE here is
    the word 4-GRAM: this template-synthesized corpus saturates its
    31-word unigram (and even bigram) space at sf0.1 (f1 = f2 = 0 —
    a degenerate estimate), while the 4-gram spectrum stays rich at
    every SF (f1 = 172k of 211k types at sf0.1), which is also the
    deduplication-relevant unit (window_dedup / ngram_novelty operate
    at this granularity).  Complements heaps_law's growth-curve fit
    with a closed-form nonparametric bound; the bias-corrected form
    D + f1(f1−1)/(2(f2+1)) is exact at f2 = 0 where classic Chao1
    divides by zero.

    Parity: D/N/f1/f2 are exact BIGINTs; each output is ONE division of
    exact integers.  Scale: one shingle explode + one groupBy(gram) —
    the same shuffle the n-gram dedup family pays — then a 4-integer
    aggregate; the frequency table never leaves the executors."""
    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(ws.alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(ws) - 3, 0)),"
                    " i -> concat_ws(' ', slice(ws, i, 4)))"
                )
            ).alias("g")
        )
    )
    freq = toks.groupBy("g").agg(F.count("*").cast("long").alias("f"))
    spec = freq.agg(
        F.count("*").cast("long").alias("d"),
        F.sum("f").cast("long").alias("n"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return spec.select(
        F.col("n").alias("n_tokens"),
        F.col("d").alias("n_distinct"),
        "f1", "f2",
        F.round(
            F.col("d")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (2 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n"), 6).alias("p_unseen"),
    )


# ---------------------------------------------------------------------------
# Round 11 (cont.): supervised feature screening + classifier evaluation
# ---------------------------------------------------------------------------


@query(
    "woe_iv",
    """
    WITH lab AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               FLOOR(l_discount * 100.0 + 0.5)::BIGINT AS disc_bin,
               FLOOR((l_quantity - 1.0) / 10.0)::BIGINT AS qty_bin
        FROM lineitem
    ),
    feat AS (
        SELECT 'discount' AS feature, disc_bin AS bin, y FROM lab
        UNION ALL
        SELECT 'quantity' AS feature, qty_bin AS bin, y FROM lab
    ),
    cnt AS (
        SELECT feature, bin, SUM(y)::BIGINT AS pos_b,
               (COUNT(*) - SUM(y))::BIGINT AS neg_b
        FROM feat GROUP BY feature, bin
    ),
    tot AS (
        SELECT feature, SUM(pos_b)::BIGINT AS pos_t, SUM(neg_b)::BIGINT AS neg_t,
               COUNT(*)::BIGINT AS b
        FROM cnt GROUP BY feature
    ),
    terms AS (
        SELECT c.feature, c.bin, c.pos_b, c.neg_b,
               ln(((c.pos_b + 1) * (t.neg_t + t.b))::DOUBLE
                  / ((c.neg_b + 1) * (t.pos_t + t.b))::DOUBLE) AS woe,
               ((c.pos_b + 1) * (t.neg_t + t.b)
                - (c.neg_b + 1) * (t.pos_t + t.b))::DOUBLE
               / ((t.pos_t + t.b) * (t.neg_t + t.b))::DOUBLE AS dp
        FROM cnt c JOIN tot t USING (feature)
    ),
    iv AS (
        SELECT feature,
               list_reduce(list_prepend(0.0, list(dp * woe ORDER BY bin)),
                           (a, x) -> a + x) AS iv
        FROM terms GROUP BY feature
    )
    SELECT t.feature, t.bin, t.pos_b, t.neg_b,
           ROUND(t.woe, 6) + 0.0 AS woe,
           ROUND(iv.iv, 6) + 0.0 AS iv
    FROM terms t JOIN iv USING (feature)
    """,
)
def woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature screen — the credit-
    scoring standard (and a sharper cousin of feature_mi) for "which
    binned feature separates the binary target": per bin WOE = ln(p/q)
    of the Laplace-smoothed class-conditional shares, per feature IV =
    Σ(p−q)·WOE.  Rule of thumb: IV < 0.02 useless, 0.1-0.3 medium,
    > 0.5 suspicious.  Screens discount deciles and quantity buckets
    against returned lineitems (l_returnflag = 'R').

    Parity: all counts exact BIGINT; WOE is ONE ln of a ratio of exact
    integer products (≤ ~1e11, exactly representable); (p−q) is rewritten
    over the common denominator so its numerator is an exact integer;
    the per-feature IV is a bin-ordered IEEE fold (chi2 discipline);
    WOE/IV carry `+ 0.0` (both can round to a signed zero).  Scale: one
    corpus scan → groupBy(feature, bin) with map-side combine; all float
    math on the |bins| frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("disc_bin"),
        F.floor((F.col("l_quantity") - 1.0) / 10.0).cast("long").alias("qty_bin"),
    )
    feat = li.select(
        F.lit("discount").alias("feature"), F.col("disc_bin").alias("bin"), "y"
    ).unionByName(
        li.select(
            F.lit("quantity").alias("feature"), F.col("qty_bin").alias("bin"), "y"
        )
    )
    cnt = feat.groupBy("feature", "bin").agg(
        F.sum("y").cast("long").alias("pos_b"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg_b"),
    )
    tot = cnt.groupBy("feature").agg(
        F.sum("pos_b").cast("long").alias("pos_t"),
        F.sum("neg_b").cast("long").alias("neg_t"),
        F.count("*").cast("long").alias("b"),
    )
    j = cnt.join(F.broadcast(tot), "feature")
    pnum = (F.col("pos_b") + 1) * (F.col("neg_t") + F.col("b"))
    qnum = (F.col("neg_b") + 1) * (F.col("pos_t") + F.col("b"))
    terms = j.select(
        "feature",
        "bin",
        "pos_b",
        "neg_b",
        F.log(pnum.cast("double") / qnum.cast("double")).alias("woe"),
        (
            (pnum - qnum).cast("double")
            / ((F.col("pos_t") + F.col("b")) * (F.col("neg_t") + F.col("b"))).cast(
                "double"
            )
        ).alias("dp"),
    )
    iv = terms.groupBy("feature").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("bin", F.col("dp") * F.col("woe")))),
            F.lit(0.0),
            lambda acc, s: acc + s["col2"],
        ).alias("iv")
    )
    return terms.join(F.broadcast(iv), "feature").select(
        "feature",
        "bin",
        "pos_b",
        "neg_b",
        (F.round("woe", 6) + F.lit(0.0)).alias("woe"),
        (F.round("iv", 6) + F.lit(0.0)).alias("iv"),
    )


@query(
    "classifier_eval",
    f"""
    WITH nbq AS ({NB_QUALITY_ORACLE}),
    lab AS (
        SELECT n.doc_id, n.nb_score AS s, n.quality_pred AS pred,
               CASE WHEN d.source IN ('src0', 'src1', 'src2', 'src3', 'src4')
                    THEN 1 ELSE 0 END AS y
        FROM nbq n JOIN documents d USING (doc_id)
    ),
    p AS (
        SELECT doc_id, s, pred, y,
               FLOOR(1000000.0 / (1.0 + exp(-s)) + 0.5)::BIGINT AS pu
        FROM lab
    ),
    g AS (SELECT s, COUNT(*)::BIGINT AS c, SUM(y)::BIGINT AS cp FROM p GROUP BY s),
    w AS (
        SELECT s, c, cp,
               COALESCE(SUM(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS cb
        FROM g
    ),
    agg AS (SELECT SUM(cp * (2 * cb + c + 1))::BIGINT AS r2 FROM w),
    base AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS np,
               SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)::BIGINT AS ncorr,
               SUM((pu - 1000000 * y) * (pu - 1000000 * y))::BIGINT AS bnum
        FROM p
    ),
    bins AS (
        SELECT LEAST(pu // 100000, 9) AS bin,
               ABS(SUM(pu) - 1000000 * SUM(y))::BIGINT AS dev
        FROM p GROUP BY 1
    ),
    ec AS (SELECT SUM(dev)::BIGINT AS tdev FROM bins)
    SELECT base.n AS n, base.np AS n_pos,
           ROUND((agg.r2 - base.np * (base.np + 1))::DOUBLE
                 / (2 * base.np * (base.n - base.np)), 6) AS auc,
           ROUND(base.bnum::DOUBLE / (base.n * 1000000000000), 6) AS brier,
           ROUND(ec.tdev::DOUBLE / (base.n * 1000000), 6) AS ece,
           ROUND(base.ncorr::DOUBLE / base.n, 6) AS accuracy
    FROM base, agg, ec
    """,
)
def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation suite for the NB quality score —
    the metrics every model-driven filtering gate reports before its
    threshold goes into a pipeline: tie-corrected ROC AUC (rank form:
    AUC = (Σ 2·rank_pos − npos(npos+1)) / (2·npos·nneg) on DOUBLED
    average ranks, the mann_whitney integer discipline), Brier score and
    10-bin expected calibration error on logistic-squashed probabilities,
    and sign-cut accuracy.  Labels = the curated sources (src0-4), i.e.
    the classifier's own training positives — a train-set eval, which is
    exactly what the production "did the filter learn the strata"
    smoke-check is.

    Parity: probabilities are integer micro-units pu = ⌊1e6·σ(s)+0.5⌋
    of the ROUNDED (attested engine-stable) nb_score, so Brier/ECE
    numerators are exact BIGINT sums and AUC is exact integer rank
    algebra — each metric is ONE division of exact integers.  Scale:
    the rank pass runs on the distinct-score frame (grouped first);
    above ~1e9 distinct scores swap the global window for the
    isotonic_calibration broadcast-grid rank pass; Brier/ECE are
    map-side-combined integer aggregates."""
    d = load_table(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    neg = F.col("source").isin("src15", "src16", "src17", "src18", "src19")
    nb = textstats.nb_quality_scores(d, pos, neg)
    lab = nb.select(
        "doc_id", F.col("nb_score").alias("s"), F.col("quality_pred").alias("pred")
    ).join(d.select("doc_id", pos.cast("int").alias("y")), "doc_id")
    p = lab.select(
        "doc_id",
        "s",
        "pred",
        "y",
        F.floor(1000000.0 / (1.0 + F.exp(-F.col("s"))) + 0.5)
        .cast("long")
        .alias("pu"),
    )
    from pyspark.sql import Window as W

    g = p.groupBy("s").agg(
        F.count("*").cast("long").alias("c"), F.sum("y").cast("long").alias("cp")
    )
    w = g.withColumn(
        "cb",
        F.coalesce(
            F.sum("c").over(W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    agg = w.agg(
        F.sum(F.col("cp") * (2 * F.col("cb") + F.col("c") + 1))
        .cast("long")
        .alias("r2")
    )
    base = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("np"),
        F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("ncorr"),
        F.sum(
            (F.col("pu") - 1000000 * F.col("y"))
            * (F.col("pu") - 1000000 * F.col("y"))
        )
        .cast("long")
        .alias("bnum"),
    )
    bins = p.groupBy(
        F.least(F.floor(F.col("pu") / 100000), F.lit(9)).alias("bin")
    ).agg(
        F.abs(F.sum("pu") - 1000000 * F.sum("y")).cast("long").alias("dev")
    )
    ec = bins.agg(F.sum("dev").cast("long").alias("tdev"))
    return (
        base.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(ec))
        .select(
            "n",
            F.col("np").alias("n_pos"),
            F.round(
                (F.col("r2") - F.col("np") * (F.col("np") + 1)).cast("double")
                / (2 * F.col("np") * (F.col("n") - F.col("np"))),
                6,
            ).alias("auc"),
            F.round(
                F.col("bnum").cast("double") / (F.col("n") * F.lit(1000000000000)),
                6,
            ).alias("brier"),
            F.round(
                F.col("tdev").cast("double") / (F.col("n") * 1000000), 6
            ).alias("ece"),
            F.round(F.col("ncorr").cast("double") / F.col("n"), 6).alias("accuracy"),
        )
    )


@query(
    "bleu_eval",
    f"""
    WITH w AS (SELECT doc_id, source, {_WORDS} AS ws FROM documents),
    p AS (
        SELECT doc_id, ws AS cand,
               LEAD(ws) OVER (PARTITION BY source ORDER BY doc_id) AS ref
        FROM w
    ),
    pp AS (SELECT doc_id, cand, ref FROM p WHERE ref IS NOT NULL),
    ns AS (SELECT unnest(generate_series(1, 4)) AS n),
    cg AS (
        SELECT pp.doc_id, ns.n, g AS gram, COUNT(*)::BIGINT AS c
        FROM pp, ns,
             unnest([md5(array_to_string(cand[i:i + ns.n - 1], ' '))
                     FOR i IN generate_series(
                         1, GREATEST(len(cand) - ns.n + 1, 0))]) AS t(g)
        GROUP BY 1, 2, 3
    ),
    rg AS (
        SELECT pp.doc_id, ns.n, g AS gram, COUNT(*)::BIGINT AS c
        FROM pp, ns,
             unnest([md5(array_to_string(ref[i:i + ns.n - 1], ' '))
                     FOR i IN generate_series(
                         1, GREATEST(len(ref) - ns.n + 1, 0))]) AS t(g)
        GROUP BY 1, 2, 3
    ),
    m AS (
        SELECT cg.n, SUM(LEAST(cg.c, rg.c))::BIGINT AS m
        FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n
                       AND cg.gram = rg.gram
        GROUP BY cg.n
    ),
    t AS (
        SELECT ns.n, SUM(GREATEST(len(cand) - ns.n + 1, 0))::BIGINT AS t
        FROM pp, ns GROUP BY ns.n
    ),
    lens AS (
        SELECT COUNT(*)::BIGINT AS n_pairs, SUM(len(cand))::BIGINT AS c,
               SUM(len(ref))::BIGINT AS r
        FROM pp
    ),
    wide AS (
        SELECT MAX(CASE WHEN t.n = 1 THEN COALESCE(m.m, 0) END)::BIGINT AS m1,
               MAX(CASE WHEN t.n = 1 THEN t.t END)::BIGINT AS t1,
               MAX(CASE WHEN t.n = 2 THEN COALESCE(m.m, 0) END)::BIGINT AS m2,
               MAX(CASE WHEN t.n = 2 THEN t.t END)::BIGINT AS t2,
               MAX(CASE WHEN t.n = 3 THEN COALESCE(m.m, 0) END)::BIGINT AS m3,
               MAX(CASE WHEN t.n = 3 THEN t.t END)::BIGINT AS t3,
               MAX(CASE WHEN t.n = 4 THEN COALESCE(m.m, 0) END)::BIGINT AS m4,
               MAX(CASE WHEN t.n = 4 THEN t.t END)::BIGINT AS t4
        FROM t LEFT JOIN m ON m.n = t.n
    )
    SELECT lens.n_pairs, lens.c AS cand_tokens, lens.r AS ref_tokens,
           m1, t1, m2, t2, m3, t3, m4, t4,
           ROUND(m1::DOUBLE / t1, 6) AS p1,
           ROUND((m2 + 1)::DOUBLE / (t2 + 1), 6) AS p2,
           ROUND((m3 + 1)::DOUBLE / (t3 + 1), 6) AS p3,
           ROUND((m4 + 1)::DOUBLE / (t4 + 1), 6) AS p4,
           ROUND(CASE WHEN lens.c >= lens.r THEN 1.0
                      ELSE exp(1.0 - lens.r::DOUBLE / lens.c) END, 6) AS bp,
           ROUND(CASE WHEN m1 = 0 THEN 0.0 ELSE
               (CASE WHEN lens.c >= lens.r THEN 1.0
                     ELSE exp(1.0 - lens.r::DOUBLE / lens.c) END)
               * exp(0.25 * ln(m1::DOUBLE / t1)
                     + 0.25 * ln((m2 + 1)::DOUBLE / (t2 + 1))
                     + 0.25 * ln((m3 + 1)::DOUBLE / (t3 + 1))
                     + 0.25 * ln((m4 + 1)::DOUBLE / (t4 + 1))) END, 6) AS bleu
    FROM wide, lens
    """,
)
def bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-4 (Papineni et al. 2002) with BLEU+1 smoothing (Lin &
    Och 2004: add-one on the n ≥ 2 precisions) — the MT/generation eval
    ROUGE's recall-orientation doesn't give: clipped n-gram PRECISION
    stacked over n = 1..4 with a brevity penalty.  Run as an eval
    pipeline runs it over a results table: candidate = each document,
    reference = the NEXT document of the same source (same-template
    pairs share phrasing, so the metric has signal; rouge_eval's
    lead-vs-body split is the within-doc complement).

    Parity: clipped matches Σ min(c_g, r_g) and totals are exact BIGINT;
    the four precisions are single divisions of exact ints; BLEU is one
    fixed left-associated expression of ln/exp on those doubles —
    identical tree both engines; a corpus-wide m1 = 0 short-circuits to
    BLEU = 0 before any ln(0).  Scale: grams shuffle as md5 DIGESTS
    keyed by (pair, n, gram-hash) — text is never an exchange key; the
    clip join is an equi-join with map-side partial sums; everything
    after runs on an 8-row frame."""
    from pyspark.sql import Window as W

    w = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "").alias(
                "ws"
            ),
        )
    )
    p = w.select(
        "doc_id",
        F.col("ws").alias("cand"),
        F.lead("ws").over(W.partitionBy("source").orderBy("doc_id")).alias("ref"),
    ).filter(F.col("ref").isNotNull())
    ns = spark.range(1, 5).select(F.col("id").cast("int").alias("n"))
    pn = p.crossJoin(F.broadcast(ns))

    def grams(side: str):
        return (
            pn.select(
                "doc_id",
                "n",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, greatest(size({side}) - n + 1, 0)),"
                        f" i -> md5(concat_ws(' ', slice({side}, i, n))))"
                    )
                ).alias("gram"),
            )
            .groupBy("doc_id", "n", "gram")
            .agg(F.count("*").cast("long").alias("c"))
        )

    cg, rg = grams("cand"), grams("ref")
    m = (
        cg.withColumnRenamed("c", "cc")
        .join(rg.withColumnRenamed("c", "rc"), ["doc_id", "n", "gram"])
        .groupBy("n")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m"))
    )
    t = pn.groupBy("n").agg(
        F.sum(F.greatest(F.size("cand") - F.col("n") + 1, F.lit(0)))
        .cast("long")
        .alias("t")
    )
    lens = p.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.size("cand")).cast("long").alias("c"),
        F.sum(F.size("ref")).cast("long").alias("r"),
    )
    mt = t.join(m, "n", "left")
    wide = mt.agg(
        *[
            F.max(
                F.when(F.col("n") == i, F.coalesce(F.col("m"), F.lit(0)))
            )
            .cast("long")
            .alias(f"m{i}")
            for i in (1, 2, 3, 4)
        ],
        *[
            F.max(F.when(F.col("n") == i, F.col("t"))).cast("long").alias(f"t{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    j = wide.crossJoin(F.broadcast(lens))
    bp = F.when(F.col("c") >= F.col("r"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("r").cast("double") / F.col("c"))
    )
    p1 = F.col("m1").cast("double") / F.col("t1")
    p2 = (F.col("m2") + 1).cast("double") / (F.col("t2") + 1)
    p3 = (F.col("m3") + 1).cast("double") / (F.col("t3") + 1)
    p4 = (F.col("m4") + 1).cast("double") / (F.col("t4") + 1)
    bleu = F.when(F.col("m1") == 0, F.lit(0.0)).otherwise(
        bp
        * F.exp(
            0.25 * F.log(p1) + 0.25 * F.log(p2) + 0.25 * F.log(p3) + 0.25 * F.log(p4)
        )
    )
    return j.select(
        "n_pairs",
        F.col("c").alias("cand_tokens"),
        F.col("r").alias("ref_tokens"),
        "m1", "t1", "m2", "t2", "m3", "t3", "m4", "t4",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(p3, 6).alias("p3"),
        F.round(p4, 6).alias("p4"),
        F.round(bp, 6).alias("bp"),
        F.round(bleu, 6).alias("bleu"),
    )


def _bucket_count(k: int):
    """Count of hashed tokens in bucket k — a dedicated closure so the
    PySpark higher-order filter sees a ONE-argument lambda (a second
    parameter would be bound to the array index, not the constant)."""
    return F.size(F.filter("hs", lambda h: h == F.lit(k))).cast("long").alias(
        f"c{k}"
    )


@query(
    "perceptron_quality",
    f"""
    WITH w AS (
        SELECT doc_id, source, {_WORDS} AS ws FROM documents
    ),
    hashed AS (
        SELECT doc_id, source,
               list_transform(ws, t ->
                   ('0x' || substr(md5(t), 1, 8))::BIGINT % 16) AS hs
        FROM w
    ),
    feat AS (
        SELECT doc_id,
               CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
                    THEN 1
                    WHEN source IN ('src15', 'src16', 'src17', 'src18', 'src19')
                    THEN -1 ELSE 0 END AS y,
               len(list_filter(hs, h -> h = 0))::BIGINT AS c0,
               len(list_filter(hs, h -> h = 1))::BIGINT AS c1,
               len(list_filter(hs, h -> h = 2))::BIGINT AS c2,
               len(list_filter(hs, h -> h = 3))::BIGINT AS c3,
               len(list_filter(hs, h -> h = 4))::BIGINT AS c4,
               len(list_filter(hs, h -> h = 5))::BIGINT AS c5,
               len(list_filter(hs, h -> h = 6))::BIGINT AS c6,
               len(list_filter(hs, h -> h = 7))::BIGINT AS c7,
               len(list_filter(hs, h -> h = 8))::BIGINT AS c8,
               len(list_filter(hs, h -> h = 9))::BIGINT AS c9,
               len(list_filter(hs, h -> h = 10))::BIGINT AS c10,
               len(list_filter(hs, h -> h = 11))::BIGINT AS c11,
               len(list_filter(hs, h -> h = 12))::BIGINT AS c12,
               len(list_filter(hs, h -> h = 13))::BIGINT AS c13,
               len(list_filter(hs, h -> h = 14))::BIGINT AS c14,
               len(list_filter(hs, h -> h = 15))::BIGINT AS c15
        FROM hashed
    ),
    train AS (
        SELECT [doc_id, y, 1, c0, c1, c2, c3, c4, c5, c6, c7, c8, c9, c10, c11, c12, c13, c14, c15]::BIGINT[] AS d
        FROM feat WHERE y <> 0 ORDER BY doc_id LIMIT 256
    ),
    model AS (
        SELECT list_reduce(
            list_prepend([0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]::BIGINT[], list(d ORDER BY d[1])),
            (acc, d) -> CASE
                WHEN d[2] * (acc[1] * d[3] + acc[2] * d[4] + acc[3] * d[5] + acc[4] * d[6] + acc[5] * d[7] + acc[6] * d[8] + acc[7] * d[9] + acc[8] * d[10] + acc[9] * d[11] + acc[10] * d[12] + acc[11] * d[13] + acc[12] * d[14] + acc[13] * d[15] + acc[14] * d[16] + acc[15] * d[17] + acc[16] * d[18] + acc[17] * d[19]) <= 0
                THEN [acc[1] + d[2] * d[3], acc[2] + d[2] * d[4], acc[3] + d[2] * d[5], acc[4] + d[2] * d[6], acc[5] + d[2] * d[7], acc[6] + d[2] * d[8], acc[7] + d[2] * d[9], acc[8] + d[2] * d[10], acc[9] + d[2] * d[11], acc[10] + d[2] * d[12], acc[11] + d[2] * d[13], acc[12] + d[2] * d[14], acc[13] + d[2] * d[15], acc[14] + d[2] * d[16], acc[15] + d[2] * d[17], acc[16] + d[2] * d[18], acc[17] + d[2] * d[19]]
                ELSE acc END) AS wv
        FROM train
    )
    SELECT f.doc_id, f.y::BIGINT AS label,
           (m.wv[1] * 1 + m.wv[2] * f.c0 + m.wv[3] * f.c1 + m.wv[4] * f.c2 + m.wv[5] * f.c3 + m.wv[6] * f.c4 + m.wv[7] * f.c5 + m.wv[8] * f.c6 + m.wv[9] * f.c7 + m.wv[10] * f.c8 + m.wv[11] * f.c9 + m.wv[12] * f.c10 + m.wv[13] * f.c11 + m.wv[14] * f.c12 + m.wv[15] * f.c13 + m.wv[16] * f.c14 + m.wv[17] * f.c15)::BIGINT AS margin,
           (CASE WHEN m.wv[1] * 1 + m.wv[2] * f.c0 + m.wv[3] * f.c1 + m.wv[4] * f.c2 + m.wv[5] * f.c3 + m.wv[6] * f.c4 + m.wv[7] * f.c5 + m.wv[8] * f.c6 + m.wv[9] * f.c7 + m.wv[10] * f.c8 + m.wv[11] * f.c9 + m.wv[12] * f.c10 + m.wv[13] * f.c11 + m.wv[14] * f.c12 + m.wv[15] * f.c13 + m.wv[16] * f.c14 + m.wv[17] * f.c15 > 0 THEN 1 ELSE 0 END)::INT AS pred
    FROM feat f, model m
    """,
)
def perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online perceptron over HASHED bag-of-words features (Rosenblatt
    1958 + the hashing trick of hashed_features): mistake-driven integer
    updates w += y·x on a BOUNDED doc_id-ordered prefix (first 256 docs
    of curated=+1 / crawl=−1), then one broadcast pass scores EVERY
    document by the exact integer margin.  Features are md5-bucket
    unigram counts (K = 16) plus bias — training has ZERO float
    operations, so any engine that agrees on integers replays the
    weight trajectory bit-for-bit.

    Honest corpus note: this template corpus shares ONE 31-word
    vocabulary across all sources and languages, so the strata are
    near-chance for ANY linear text classifier (the NB screen's AUC is
    only 0.64) — the margins here demonstrate exact sequential-training
    semantics, not separability; the planted-corpus pytest proves the
    convergence law where a separator exists.  Online training is
    inherently sequential: it runs as an ordered list fold over the
    256-row prefix (the documented bounded contract — production swaps
    in averaged or hash-parallel perceptrons).  SCORING is the
    distributed part: the 17-weight model broadcasts and the margin
    is a column expression — one corpus scan, no shuffle."""
    w = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "").alias("ws"),
    )
    hashed = w.select(
        "doc_id",
        "source",
        F.transform(
            "ws",
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
            % 16,
        ).alias("hs"),
    )
    y = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
        .when(
            F.col("source").isin("src15", "src16", "src17", "src18", "src19"), -1
        )
        .otherwise(0)
    )
    feat = hashed.select(
        "doc_id",
        y.cast("long").alias("y"),
        *[_bucket_count(k) for k in range(16)],
    )
    train = (
        feat.filter(F.col("y") != 0)
        .orderBy("doc_id")
        .limit(256)
        .select(
            F.array(
                "doc_id",
                "y",
                F.lit(1).cast("long"),
                *[f"c{k}" for k in range(16)],
            ).alias("d")
        )
    )
    dim = 16 + 1

    def step(acc, d):
        yv = F.element_at(d, 2)
        margin = sum(
            F.element_at(acc, i) * F.element_at(d, i + 2)
            for i in range(1, dim + 1)
        )
        upd = F.array(
            *[
                F.element_at(acc, i) + yv * F.element_at(d, i + 2)
                for i in range(1, dim + 1)
            ]
        )
        return F.when(yv * margin <= 0, upd).otherwise(acc)

    model = train.agg(
        F.aggregate(
            F.array_sort(F.collect_list("d")),
            F.array(*[F.lit(0).cast("long")] * dim),
            step,
        ).alias("wv")
    )
    j = feat.crossJoin(F.broadcast(model))
    margin = sum(
        F.element_at(F.col("wv"), i + 1)
        * (F.lit(1) if i == 0 else F.col(f"c{i - 1}"))
        for i in range(dim)
    )
    return j.select(
        "doc_id",
        F.col("y").alias("label"),
        margin.cast("long").alias("margin"),
        (margin > 0).cast("int").alias("pred"),
    )


_MSTTR_SEG = 50


@query(
    "msttr",
    f"""
    WITH toks AS (
        SELECT doc_id, source, (i - 1) // {_MSTTR_SEG} AS seg, ws[i] AS w,
               len(ws) AS n
        FROM (SELECT doc_id, source, {_WORDS} AS ws FROM documents),
             unnest(generate_series(1, len(ws))) AS t(i)
    ),
    segs AS (
        SELECT doc_id, source, seg, COUNT(DISTINCT w)::BIGINT AS d
        FROM toks WHERE seg < n // {_MSTTR_SEG}
        GROUP BY doc_id, source, seg
    )
    SELECT source, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_segments, SUM(d)::BIGINT AS sum_types,
           ROUND(SUM(d)::DOUBLE / ({_MSTTR_SEG} * COUNT(*)), 6) AS msttr
    FROM segs GROUP BY source ORDER BY source
    """,
)
def msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio per source — the length-robust
    lexical-diversity measure (Johnson 1944) that raw TTR cannot give
    (TTR falls with document length, so cross-source TTR comparisons
    confound diversity with length).  Each doc is cut into consecutive
    complete 50-token segments, TTR = distinct/50 per segment, and MSTTR
    is the mean over a source's segments — comparable across sources of
    any length mix, and the standard repetitive-template screen next to
    ngram_diversity/vocab_gini.

    Parity: per-segment distinct counts are exact BIGINTs and every
    segment has the SAME denominator (only complete segments count), so
    MSTTR = sum(d) / (50 * n_segments) is ONE correctly-rounded division
    of exact integers — no per-segment float averaging.

    Scale: tokens explode with doc-local segment keys — the groupBy
    shuffles (doc_id, seg, word)-sized rows with map-side combine and no
    global state; the source rollup is |sources| rows.  Text itself is
    never an exchange key (words hash-partition)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source",
        F.posexplode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("pos", "w"),
        F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""))
        .alias("n"),
    )
    segs = (
        toks.filter(
            F.floor(F.col("pos") / _MSTTR_SEG)
            < F.floor(F.col("n") / _MSTTR_SEG)
        )
        .groupBy("doc_id", "source", F.floor(F.col("pos") / _MSTTR_SEG).alias("seg"))
        .agg(F.countDistinct("w").cast("long").alias("d"))
    )
    return (
        segs.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_segments"),
            F.sum("d").cast("long").alias("sum_types"),
            F.round(
                F.sum("d").cast("double") / (_MSTTR_SEG * F.count("*")), 6
            ).alias("msttr"),
        )
        .orderBy("source")
    )


@query(
    "decision_stump",
    """
    WITH lab AS (
        SELECT n_chars AS x,
               CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
                    THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS p FROM lab),
    grid AS (
        SELECT x, COUNT(*)::BIGINT AS cnt, SUM(y)::BIGINT AS pos
        FROM lab GROUP BY x
    ),
    cum AS (
        SELECT x,
               SUM(cnt) OVER (ORDER BY x)::BIGINT AS l,
               SUM(pos) OVER (ORDER BY x)::BIGINT AS lp
        FROM grid
    ),
    scored AS (
        SELECT cum.x AS threshold, tot.n, tot.p, cum.l, cum.lp,
               (tot.n - cum.l)::BIGINT AS r,
               (tot.p - cum.lp)::BIGINT AS rp,
               ((tot.n - cum.l)
                * (cum.l * cum.l - cum.lp * cum.lp
                   - (cum.l - cum.lp) * (cum.l - cum.lp))
                + cum.l
                * ((tot.n - cum.l) * (tot.n - cum.l)
                   - (tot.p - cum.lp) * (tot.p - cum.lp)
                   - (tot.n - cum.l - tot.p + cum.lp)
                     * (tot.n - cum.l - tot.p + cum.lp)))::BIGINT AS num
        FROM cum, tot WHERE cum.l < tot.n
    )
    SELECT threshold, n, p AS n_pos, l AS left_n, lp AS left_pos,
           r AS right_n, rp AS right_pos,
           ROUND(num::DOUBLE / (l * r) / n, 6) AS gini_split,
           ROUND((n * n - p * p - (n - p) * (n - p))::DOUBLE / (n * n), 6)
               AS gini_root
    FROM scored
    ORDER BY num::DOUBLE / (l * r) ASC, threshold ASC
    LIMIT 1
    """,
)
def decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best decision stump: the single split "n_chars <= t" that
    minimizes weighted Gini impurity for predicting whether a doc is
    substantive (>= 3 sentence enders) — the CART/XGBoost inner loop
    (one split finder over one feature) as a data operator, and the
    quality-filter threshold a labeling pipeline would actually deploy.

    Parity: candidate thresholds are the DISTINCT feature values; the
    left/right class counts come from ONE integer cumulative window over
    that grid.  Weighted Gini = num / (L*R*n) where num = R*(L^2 - Lp^2 -
    Ln^2) + L*(R^2 - Rp^2 - Rn^2) is an exact BIGINT (<= ~1e17 at 500k
    docs); the argmin sorts by the correctly-rounded double num/(L*R)
    with a threshold tiebreak — identical exact inputs give identical
    doubles, so both engines pick the same split.

    Scale: the corpus collapses to the distinct-value grid (groupBy with
    map-side combine — the mann_whitney_u discipline); the window and
    argmin run on |distinct values| rows.  At 100 TB the grid for a
    bounded-cardinality feature is still thousands of rows."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").alias("x"),
        F.when(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]"), F.lit(0))) >= 3, 1
        ).otherwise(0).alias("y"),
    )
    tot = lab.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("p")
    )
    grid = lab.groupBy("x").agg(
        F.count("*").cast("long").alias("cnt"), F.sum("y").cast("long").alias("pos")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grid.select(
        "x",
        F.sum("cnt").over(w).cast("long").alias("l"),
        F.sum("pos").over(w).cast("long").alias("lp"),
    )
    sc = cum.crossJoin(F.broadcast(tot)).filter(F.col("l") < F.col("n"))
    r_ = F.col("n") - F.col("l")
    rp = F.col("p") - F.col("lp")
    ln = F.col("l") - F.col("lp")
    rn = r_ - rp
    num = (
        r_ * (F.col("l") * F.col("l") - F.col("lp") * F.col("lp") - ln * ln)
        + F.col("l") * (r_ * r_ - rp * rp - rn * rn)
    )
    scored = sc.select(
        F.col("x").alias("threshold"), "n", F.col("p").alias("n_pos"),
        F.col("l").alias("left_n"), F.col("lp").alias("left_pos"),
        r_.cast("long").alias("right_n"), rp.cast("long").alias("right_pos"),
        num.cast("long").alias("num"),
    )
    return (
        scored.orderBy(
            (F.col("num").cast("double") / (F.col("left_n") * F.col("right_n"))).asc(),
            F.col("threshold").asc(),
        )
        .limit(1)
        .select(
            "threshold", "n", "n_pos", "left_n", "left_pos", "right_n", "right_pos",
            F.round(
                F.col("num").cast("double")
                / (F.col("left_n") * F.col("right_n"))
                / F.col("n"),
                6,
            ).alias("gini_split"),
            F.round(
                (
                    F.col("n") * F.col("n")
                    - F.col("n_pos") * F.col("n_pos")
                    - (F.col("n") - F.col("n_pos")) * (F.col("n") - F.col("n_pos"))
                ).cast("double")
                / (F.col("n") * F.col("n")),
                6,
            ).alias("gini_root"),
        )
    )


@query(
    "quantile_normalize",
    """
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id)::BIGINT AS rk
        FROM documents
    ),
    ref AS (
        SELECT rk, COUNT(*)::BIGINT AS k, SUM(n_chars)::BIGINT AS s
        FROM ranked GROUP BY rk
    )
    SELECT r.doc_id, r.source, r.n_chars, r.rk AS rank,
           ROUND(ref.s::DOUBLE / ref.k, 6) AS normalized
    FROM ranked r JOIN ref ON ref.rk = r.rk
    ORDER BY r.doc_id
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of doc length across sources (Bolstad et al.
    2003 — the microarray/batch-effect standard, here the cross-source
    length-distribution aligner a mixing pipeline runs before comparing
    per-source quality stats): rank within source, replace each value
    with the MEAN of the values at that rank across all sources — after
    which every source has the IDENTICAL length distribution
    (pytest-checked), preserving only each doc's within-source order.

    Parity: ranks are exact integer windows with (n_chars, doc_id)
    tiebreaks; the reference at each rank is SUM/COUNT of exact BIGINTs —
    ONE correctly-rounded division (sources contribute equal doc counts
    by corpus construction, so every rank has the same k; ragged sources
    would make tail ranks thinner, which the COUNT(*) denominator handles
    by the same arithmetic).

    Scale: one per-source window (hash-partitioned by source, no global
    sort), one groupBy(rank) with map-side combine — rank cardinality is
    |docs|/|sources| — and a rank-keyed join AQE can broadcast when the
    rank table is small.  Text never shuffles; only (id, rank, length)
    triples do."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id", "source", "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rk"),
    )
    ref = ranked.groupBy("rk").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_chars").cast("long").alias("s"),
    )
    return (
        ranked.join(ref, "rk")
        .select(
            "doc_id", "source", "n_chars",
            F.col("rk").cast("long").alias("rank"),
            F.round(F.col("s").cast("double") / F.col("k"), 6)
            .alias("normalized"),
        )
        .orderBy("doc_id")
    )


_LOM_PRIOR = 1000  # total Dirichlet prior mass alpha0 spread by corpus freq


@query(
    "log_odds_monroe",
    f"""
    WITH toks AS (
        SELECT source, unnest({_WORDS}) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*)::BIGINT AS f FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*)::BIGINT AS nn FROM toks),
    g AS (
        SELECT w,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS yi,
               COUNT(*)::BIGINT AS yall
        FROM toks GROUP BY w
    ),
    sizes AS (
        SELECT SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ni,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)::BIGINT AS nj
        FROM toks
    ),
    scored AS (
        SELECT g.w, g.yi, (g.yall - g.yi)::BIGINT AS yj,
               ln((g.yi + {_LOM_PRIOR}.0 * freq.f / tot.nn)
                  / (sizes.ni + {_LOM_PRIOR}
                     - g.yi - {_LOM_PRIOR}.0 * freq.f / tot.nn))
               - ln(((g.yall - g.yi) + {_LOM_PRIOR}.0 * freq.f / tot.nn)
                    / (sizes.nj + {_LOM_PRIOR}
                       - (g.yall - g.yi)
                       - {_LOM_PRIOR}.0 * freq.f / tot.nn)) AS delta,
               1.0 / (g.yi + {_LOM_PRIOR}.0 * freq.f / tot.nn)
               + 1.0 / ((g.yall - g.yi) + {_LOM_PRIOR}.0 * freq.f / tot.nn)
                   AS var
        FROM g, freq, tot, sizes
        WHERE freq.w = g.w
    )
    SELECT w AS word, yi AS y_src, yj AS y_rest,
           ROUND(delta, 6) + 0.0 AS log_odds,
           ROUND(delta / sqrt(var), 6) + 0.0 AS z
    FROM scored
    ORDER BY ROUND(delta / sqrt(var), 6) DESC, w ASC
    LIMIT 20
    """,
)
def log_odds_monroe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Fightin' Words" log-odds with informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008) — which words does src0 use DISTINCTIVELY
    versus the rest of the corpus: delta_w = logit of w in src0 minus
    logit in the rest, both smoothed by a prior alpha_w proportional to
    the word's corpus frequency (total mass 1000), z = delta /
    sqrt(1/(y_i + a_w) + 1/(y_j + a_w)).  The prior is what separates
    this from raw log-odds: rare words get shrunk instead of dominating —
    the source-attribution sibling of burrows_delta.

    Parity: counts are exact BIGINTs; alpha_w = 1000*f/N is ONE division;
    delta/var/z are fixed expression trees on those doubles (ln on
    bit-identical inputs — the weighted_sample/lm_perplexity precedent),
    and the top-20 cut sorts the ROUNDED z (rounded BEFORE the sort, the
    pagerank_docs discipline) with a word tiebreak.  Both rounded outputs
    carry `+ 0.0`.

    Scale: one token explode + two word-keyed groupBys with map-side
    combine; scoring joins are vocab-sized (broadcastable); text never
    shuffles as a key wider than single words."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    freq = toks.groupBy("w").agg(F.count("*").cast("long").alias("f"))
    tot = toks.agg(F.count("*").cast("long").alias("nn"))
    g = toks.groupBy("w").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long").alias("yi"),
        F.count("*").cast("long").alias("yall"),
    )
    sizes = toks.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long").alias("ni"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0))
        .cast("long").alias("nj"),
    )
    j = (
        g.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sizes))
    )
    aw = F.lit(float(_LOM_PRIOR)) * F.col("f") / F.col("nn")
    yi = F.col("yi")
    yj = F.col("yall") - F.col("yi")
    delta = F.log(
        (yi + aw) / (F.col("ni") + _LOM_PRIOR - yi - aw)
    ) - F.log((yj + aw) / (F.col("nj") + _LOM_PRIOR - yj - aw))
    var = 1.0 / (yi + aw) + 1.0 / (yj + aw)
    scored = j.select(
        "w", "yi", yj.cast("long").alias("yj"),
        delta.alias("delta"), var.alias("var"),
    )
    z = F.col("delta") / F.sqrt(F.col("var"))
    return (
        scored.select(
            F.col("w").alias("word"),
            F.col("yi").alias("y_src"),
            F.col("yj").alias("y_rest"),
            (F.round("delta", 6) + F.lit(0.0)).alias("log_odds"),
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
        .orderBy(F.col("z").desc(), F.col("word").asc())  # z is the ROUNDED col
        .limit(20)
    )


_TREND_K = 20
_TREND_ALPHA = 5  # Laplace smoothing pseudo-count


@query(
    "trending_terms",
    f"""
    WITH docs2 AS (
        SELECT doc_id, {_WORDS} AS ws,
               (doc_id % 2) AS half
        FROM documents
    ),
    toks AS (SELECT half, unnest(ws) AS w FROM docs2),
    tot AS (
        SELECT SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
        FROM toks
    ),
    g AS (
        SELECT w,
               SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
        FROM toks GROUP BY w
    )
    SELECT w AS term, c0 AS count_before, c1 AS count_after,
           ROUND(((c1 + {_TREND_ALPHA}) * (tot.n0 + 2 * {_TREND_ALPHA}))::DOUBLE
                 / ((c0 + {_TREND_ALPHA})
                    * (tot.n1 + 2 * {_TREND_ALPHA})), 6) AS growth
    FROM g, tot
    ORDER BY ROUND(((c1 + {_TREND_ALPHA}) * (tot.n0 + 2 * {_TREND_ALPHA}))::DOUBLE
                   / ((c0 + {_TREND_ALPHA})
                      * (tot.n1 + 2 * {_TREND_ALPHA})), 6) DESC, w ASC
    LIMIT {_TREND_K}
    """,
)
def trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-term detection between two corpus cohorts (even vs odd
    doc ids — the deterministic stand-in for crawl snapshots): smoothed
    rate ratio growth = ((c_after + a)/(N_after + 2a)) / ((c_before +
    a)/(N_before + 2a)) with Laplace pseudo-count a = 5, top-20 movers —
    the temporal counterpart to log_odds_monroe's source axis, and the
    vocabulary-drift monitor a crawl pipeline runs between snapshots
    (psi_drift's per-term refinement).

    Parity: counts and totals are exact BIGINTs; the smoothed ratio is
    arranged as ONE division of two exact integer PRODUCTS — (c1+a)(N0+
    2a) / ((c0+a)(N1+2a)) — so the only float is the final correctly-
    rounded division (products <= ~1e13 at sf1); the cut sorts the
    ROUNDED growth with a term tiebreak.

    Scale: one token explode + one word-keyed groupBy with map-side
    combine; the totals row broadcasts; TakeOrdered(20)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    tot = toks.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
    )
    g = toks.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long")
        .alias("c1"),
    )
    a = _TREND_ALPHA
    j = g.crossJoin(F.broadcast(tot))
    growth = F.round(
        ((F.col("c1") + a) * (F.col("n0") + 2 * a)).cast("double")
        / ((F.col("c0") + a) * (F.col("n1") + 2 * a)),
        6,
    )
    return (
        j.select(
            F.col("w").alias("term"),
            F.col("c0").alias("count_before"),
            F.col("c1").alias("count_after"),
            growth.alias("growth"),
        )
        .orderBy(F.col("growth").desc(), F.col("term").asc())
        .limit(_TREND_K)
    )


_NW_PAIRS = 20
_NW_LEN = 40
_NW_MATCH = 2
_NW_MISS = -1
_NW_GAP = -1


@query(
    "needleman_wunsch",
    f"""
    WITH nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    seqs AS (
        SELECT doc_id,
               list_transform(
                   {_WORDS}[1:{_NW_LEN}],
                   w -> [('0x' || substr(md5('nw:' || w), 1, 8))::BIGINT])
                   AS hs
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.hs AS xs, b.hs AS ys
        FROM seqs a JOIN seqs b ON b.doc_id = a.doc_id + (SELECT n // 2 FROM nn)
        WHERE a.doc_id < {_NW_PAIRS}
    ),
    dp AS (
        SELECT a_id, b_id, len(xs)::BIGINT AS la, len(ys)::BIGINT AS lb,
               list_reduce(
                   list_prepend(
                       list_transform(generate_series(0, len(ys)),
                                      j -> {_NW_GAP} * j)::BIGINT[],
                       xs),
                   (prev, xi) -> list_reduce(
                       list_prepend([prev[1] + {_NW_GAP}], ys),
                       (acc, yj) -> acc
                           || [greatest(
                                 prev[len(acc)]
                                 + CASE WHEN xi[1] = yj[1]
                                        THEN {_NW_MATCH} ELSE {_NW_MISS} END,
                                 prev[len(acc) + 1] + {_NW_GAP},
                                 acc[len(acc)] + {_NW_GAP})]) ) AS row
        FROM pairs
    )
    SELECT a_id, b_id, la AS len_a, lb AS len_b,
           row[len(row)]::BIGINT AS nw_score,
           ROUND(row[len(row)]::DOUBLE
                 / ({_NW_MATCH} * greatest(la, lb)), 6) + 0.0
               AS similarity
    FROM dp ORDER BY a_id
    """,
)
def needleman_wunsch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needleman-Wunsch global alignment (1970) between token sequences —
    the edit-script scorer that tells a dedup pipeline not just THAT two
    docs are near-duplicates (levenshtein/MinHash already do) but HOW
    they align (match +2, mismatch -1, gap -1; normalized by the
    perfect-match score): each doc's 40-token prefix aligns against its
    cross-half partner (doc_id + n/2) for the first 20 ids — a bounded
    deterministic pairing standing in for the LSH candidate stream the
    neardup family produces.

    Parity: tokens hash to 32-bit md5 BIGINTs on both engines (string
    equality becomes exact integer equality, and the accumulator/element
    type constraint of DuckDB's list_reduce is satisfied); the DP is a
    NESTED in-row fold with gap-penalty boundaries (row start
    new[0] = prev[0] + gap — the running -i), all EXACT BIGINT max/+.
    similarity can round to signed zero, hence `+ 0.0`.

    Scale: the pairing is id-keyed (one shuffle-free range join at these
    sizes); each alignment is (len+1)^2 integer cells inside one row —
    embarrassingly parallel across pairs; production pairings come from
    the banded LSH candidate join, never all-pairs."""
    from fusionspark.operators.dedup import md5_hash32

    d = load_table(spark, sf_dir, "documents")
    nn = d.agg(F.count("*").cast("long").alias("n"))
    seqs = d.select(
        "doc_id",
        F.transform(
            F.slice(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != ""),
                1, _NW_LEN,
            ),
            lambda w: F.array(md5_hash32(F.concat(F.lit("nw:"), w))),
        ).alias("hs"),
    ).crossJoin(F.broadcast(nn))
    a = seqs.filter(F.col("doc_id") < _NW_PAIRS).select(
        F.col("doc_id").alias("a_id"), F.col("hs").alias("xs"),
        (F.col("doc_id") + F.floor(F.col("n") / 2)).alias("b_key"),
    )
    b = seqs.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("ys"))
    pairs = a.join(b, F.col("b_key") == F.col("b_id"))
    gap = F.lit(_NW_GAP).cast("long")

    def dp_col(xs, ys):
        init = F.transform(
            F.sequence(F.lit(0), F.size(ys)), lambda j: (gap * j).cast("long")
        )

        def outer(prev, xi):
            def inner(acc, yj):
                j = F.size(acc)
                s = F.when(
                    F.element_at(xi, 1) == F.element_at(yj, 1),
                    F.lit(_NW_MATCH),
                ).otherwise(F.lit(_NW_MISS)).cast("long")
                return F.concat(
                    acc,
                    F.array(
                        F.greatest(
                            F.element_at(prev, j) + s,
                            F.element_at(prev, j + 1) + gap,
                            F.element_at(acc, j) + gap,
                        )
                    ),
                )

            return F.aggregate(
                ys, F.array(F.element_at(prev, 1) + gap), inner
            )

        return F.aggregate(xs, init, outer)

    dp = pairs.select(
        "a_id", "b_id",
        F.size("xs").cast("long").alias("len_a"),
        F.size("ys").cast("long").alias("len_b"),
        dp_col(F.col("xs"), F.col("ys")).alias("row"),
    )
    last = F.element_at("row", F.size("row"))
    return dp.select(
        "a_id", "b_id", "len_a", "len_b",
        last.cast("long").alias("nw_score"),
        (
            F.round(
                last.cast("double")
                / (_NW_MATCH * F.greatest("len_a", "len_b")),
                6,
            )
            + F.lit(0.0)
        ).alias("similarity"),
    ).orderBy("a_id")

_SW_PAIRS = 20
_SW_LEN = 40
_SW_MATCH = 3
_SW_MISS = -2
_SW_GAP = -2


@query(
    "smith_waterman",
    f"""
    WITH nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    seqs AS (
        SELECT doc_id,
               list_transform(
                   {_WORDS}[1:{_SW_LEN}],
                   w -> [('0x' || substr(md5('nw:' || w), 1, 8))::BIGINT])
                   AS hs
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.hs AS xs, b.hs AS ys
        FROM seqs a JOIN seqs b ON b.doc_id = a.doc_id + (SELECT n // 2 FROM nn)
        WHERE a.doc_id < {_SW_PAIRS}
    ),
    dp AS (
        SELECT a_id, b_id, len(xs)::BIGINT AS la, len(ys)::BIGINT AS lb,
               list_reduce(
                   list_prepend(
                       [0::BIGINT]
                       || list_transform(generate_series(0, len(ys)),
                                         j -> 0::BIGINT),
                       xs),
                   (st, xi) -> [greatest(st[1], list_max(
                       list_reduce(
                           list_prepend([0::BIGINT], ys),
                           (acc, yj) -> acc
                               || [greatest(0,
                                     st[len(acc) + 1]
                                     + CASE WHEN xi[1] = yj[1]
                                            THEN {_SW_MATCH}
                                            ELSE {_SW_MISS} END,
                                     st[len(acc) + 2] + {_SW_GAP},
                                     acc[len(acc)] + {_SW_GAP})])))]
                       || list_reduce(
                           list_prepend([0::BIGINT], ys),
                           (acc, yj) -> acc
                               || [greatest(0,
                                     st[len(acc) + 1]
                                     + CASE WHEN xi[1] = yj[1]
                                            THEN {_SW_MATCH}
                                            ELSE {_SW_MISS} END,
                                     st[len(acc) + 2] + {_SW_GAP},
                                     acc[len(acc)] + {_SW_GAP})])) AS st
        FROM pairs
    )
    SELECT a_id, b_id, la AS len_a, lb AS len_b,
           st[1]::BIGINT AS sw_score,
           ROUND(st[1]::DOUBLE / ({_SW_MATCH} * least(la, lb)), 6)
               AS similarity
    FROM dp ORDER BY a_id
    """,
)
def smith_waterman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smith-Waterman LOCAL alignment (1981) over the needleman_wunsch
    pairing — the quote/excerpt detector: where NW scores the WHOLE
    sequences (penalizing unrelated flanks), SW finds the best-scoring
    matching SUBSEQUENCE (cells floor at 0, the answer is the max over
    ALL cells), so a 10-token verbatim quote inside otherwise-different
    docs scores ~30 here while NW stays negative.

    Parity: the DP is the NW nested fold with two changes — every cell
    maxes with 0, and the outer accumulator carries [best, row...] (the
    global max folds alongside the row; list slicing indexes shift by
    one), all EXACT BIGINT.  The row-build expression is textually
    duplicated into the best-update (both engines evaluate the same
    tree twice — determinism over elegance).  Tokens are md5-hashed
    BIGINTs (the NW contract).

    Scale: identical to needleman_wunsch — bounded id-keyed pairs, one
    (len+1)^2 integer fold per pair, embarrassingly parallel."""
    from fusionspark.operators.dedup import md5_hash32

    d = load_table(spark, sf_dir, "documents")
    nn = d.agg(F.count("*").cast("long").alias("n"))
    seqs = d.select(
        "doc_id",
        F.transform(
            F.slice(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != ""),
                1, _SW_LEN,
            ),
            lambda w: F.array(md5_hash32(F.concat(F.lit("nw:"), w))),
        ).alias("hs"),
    ).crossJoin(F.broadcast(nn))
    a = seqs.filter(F.col("doc_id") < _SW_PAIRS).select(
        F.col("doc_id").alias("a_id"), F.col("hs").alias("xs"),
        (F.col("doc_id") + F.floor(F.col("n") / 2)).alias("b_key"),
    )
    b = seqs.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("ys"))
    pairs = a.join(b, F.col("b_key") == F.col("b_id"))
    zero = F.lit(0).cast("long")
    gap = F.lit(_SW_GAP).cast("long")

    def dp_col(xs, ys):
        init = F.concat(
            F.array(zero),
            F.transform(F.sequence(F.lit(0), F.size(ys)), lambda j: zero),
        )

        def new_row(st, xi):
            def inner(acc, yj):
                j = F.size(acc)
                sc = F.when(
                    F.element_at(xi, 1) == F.element_at(yj, 1),
                    F.lit(_SW_MATCH),
                ).otherwise(F.lit(_SW_MISS)).cast("long")
                return F.concat(
                    acc,
                    F.array(
                        F.greatest(
                            zero,
                            F.element_at(st, j + 1) + sc,
                            F.element_at(st, j + 2) + gap,
                            F.element_at(acc, j) + gap,
                        )
                    ),
                )

            return F.aggregate(ys, F.array(zero), inner)

        def outer(st, xi):
            row = new_row(st, xi)
            return F.concat(
                F.array(F.greatest(F.element_at(st, 1), F.array_max(row))),
                row,
            )

        return F.aggregate(xs, init, outer)

    dp = pairs.select(
        "a_id", "b_id",
        F.size("xs").cast("long").alias("len_a"),
        F.size("ys").cast("long").alias("len_b"),
        dp_col(F.col("xs"), F.col("ys")).alias("st"),
    )
    best = F.element_at("st", 1)
    return dp.select(
        "a_id", "b_id", "len_a", "len_b",
        best.cast("long").alias("sw_score"),
        F.round(
            best.cast("double") / (_SW_MATCH * F.least("len_a", "len_b")), 6
        ).alias("similarity"),
    ).orderBy("a_id")


_SHAP_W = [3, -2, 5, 1, -4, 2, -1, 6, -3, 2, 4, -5, 1, -2, 3, -6]


@query(
    "linear_shap",
    """
    WITH w AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                   x -> x <> '') AS ws
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_transform(ws, t ->
                   ('0x' || substr(md5(t), 1, 8))::BIGINT % 16) AS hs
        FROM w
    ),
    feat AS MATERIALIZED (
        SELECT doc_id,
               len(list_filter(hs, h -> h = 0))::BIGINT AS c0,
               len(list_filter(hs, h -> h = 1))::BIGINT AS c1,
               len(list_filter(hs, h -> h = 2))::BIGINT AS c2,
               len(list_filter(hs, h -> h = 3))::BIGINT AS c3,
               len(list_filter(hs, h -> h = 4))::BIGINT AS c4,
               len(list_filter(hs, h -> h = 5))::BIGINT AS c5,
               len(list_filter(hs, h -> h = 6))::BIGINT AS c6,
               len(list_filter(hs, h -> h = 7))::BIGINT AS c7,
               len(list_filter(hs, h -> h = 8))::BIGINT AS c8,
               len(list_filter(hs, h -> h = 9))::BIGINT AS c9,
               len(list_filter(hs, h -> h = 10))::BIGINT AS c10,
               len(list_filter(hs, h -> h = 11))::BIGINT AS c11,
               len(list_filter(hs, h -> h = 12))::BIGINT AS c12,
               len(list_filter(hs, h -> h = 13))::BIGINT AS c13,
               len(list_filter(hs, h -> h = 14))::BIGINT AS c14,
               len(list_filter(hs, h -> h = 15))::BIGINT AS c15
        FROM hashed
    ),
    s AS MATERIALIZED (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(c0)::BIGINT AS s0,
               SUM(c1)::BIGINT AS s1,
               SUM(c2)::BIGINT AS s2,
               SUM(c3)::BIGINT AS s3,
               SUM(c4)::BIGINT AS s4,
               SUM(c5)::BIGINT AS s5,
               SUM(c6)::BIGINT AS s6,
               SUM(c7)::BIGINT AS s7,
               SUM(c8)::BIGINT AS s8,
               SUM(c9)::BIGINT AS s9,
               SUM(c10)::BIGINT AS s10,
               SUM(c11)::BIGINT AS s11,
               SUM(c12)::BIGINT AS s12,
               SUM(c13)::BIGINT AS s13,
               SUM(c14)::BIGINT AS s14,
               SUM(c15)::BIGINT AS s15
        FROM feat
    ),
    att AS MATERIALIZED (
        SELECT SUM(abs(3 * (s.n * feat.c0 - s.s0)))::BIGINT AS a0,
               SUM(abs(-2 * (s.n * feat.c1 - s.s1)))::BIGINT AS a1,
               SUM(abs(5 * (s.n * feat.c2 - s.s2)))::BIGINT AS a2,
               SUM(abs(1 * (s.n * feat.c3 - s.s3)))::BIGINT AS a3,
               SUM(abs(-4 * (s.n * feat.c4 - s.s4)))::BIGINT AS a4,
               SUM(abs(2 * (s.n * feat.c5 - s.s5)))::BIGINT AS a5,
               SUM(abs(-1 * (s.n * feat.c6 - s.s6)))::BIGINT AS a6,
               SUM(abs(6 * (s.n * feat.c7 - s.s7)))::BIGINT AS a7,
               SUM(abs(-3 * (s.n * feat.c8 - s.s8)))::BIGINT AS a8,
               SUM(abs(2 * (s.n * feat.c9 - s.s9)))::BIGINT AS a9,
               SUM(abs(4 * (s.n * feat.c10 - s.s10)))::BIGINT AS a10,
               SUM(abs(-5 * (s.n * feat.c11 - s.s11)))::BIGINT AS a11,
               SUM(abs(1 * (s.n * feat.c12 - s.s12)))::BIGINT AS a12,
               SUM(abs(-2 * (s.n * feat.c13 - s.s13)))::BIGINT AS a13,
               SUM(abs(3 * (s.n * feat.c14 - s.s14)))::BIGINT AS a14,
               SUM(abs(-6 * (s.n * feat.c15 - s.s15)))::BIGINT AS a15
        FROM feat, s
    ),
    per AS (
        SELECT 0::BIGINT AS feature, 3::BIGINT AS weight, s0 AS total_count, a0 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 1::BIGINT AS feature, -2::BIGINT AS weight, s1 AS total_count, a1 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 2::BIGINT AS feature, 5::BIGINT AS weight, s2 AS total_count, a2 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 3::BIGINT AS feature, 1::BIGINT AS weight, s3 AS total_count, a3 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 4::BIGINT AS feature, -4::BIGINT AS weight, s4 AS total_count, a4 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 5::BIGINT AS feature, 2::BIGINT AS weight, s5 AS total_count, a5 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 6::BIGINT AS feature, -1::BIGINT AS weight, s6 AS total_count, a6 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 7::BIGINT AS feature, 6::BIGINT AS weight, s7 AS total_count, a7 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 8::BIGINT AS feature, -3::BIGINT AS weight, s8 AS total_count, a8 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 9::BIGINT AS feature, 2::BIGINT AS weight, s9 AS total_count, a9 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 10::BIGINT AS feature, 4::BIGINT AS weight, s10 AS total_count, a10 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 11::BIGINT AS feature, -5::BIGINT AS weight, s11 AS total_count, a11 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 12::BIGINT AS feature, 1::BIGINT AS weight, s12 AS total_count, a12 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 13::BIGINT AS feature, -2::BIGINT AS weight, s13 AS total_count, a13 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 14::BIGINT AS feature, 3::BIGINT AS weight, s14 AS total_count, a14 AS abs_attr_scaled FROM s, att
        UNION ALL
        SELECT 15::BIGINT AS feature, -6::BIGINT AS weight, s15 AS total_count, a15 AS abs_attr_scaled FROM s, att
    )
    SELECT per.feature, per.weight, per.total_count,
           ROUND(per.total_count::DOUBLE / s.n, 6) AS mean_count,
           ROUND(per.abs_attr_scaled::DOUBLE / (s.n::DOUBLE * s.n), 6)
               AS mean_abs_attribution
    FROM per, s
    ORDER BY per.abs_attr_scaled DESC, per.feature ASC
    """,
)
def linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attributions for a linear model over hashed bag-of-words
    features: for a linear scorer, the Shapley value of feature j on a
    doc is EXACTLY w_j * (x_j - E[x_j]) (Lundberg & Lee 2017, linear
    SHAP) — no sampling, no approximation.  The model is a fixed
    published 16-weight vector (trained elsewhere); the query reports each feature's global importance
    mean(|phi_j|) — the ranking an XAI dashboard shows next to
    perceptron_quality's margins.

    Parity: hashed counts and feature sums are exact BIGINTs; the
    n-scaled attribution n*phi = w_j * (n*x_j - S_j) is exact, so
    mean|phi| = sum|n*phi| / n^2 is ONE correctly-rounded division, and
    the importance ranking sorts EXACT integers (abs_attr_scaled) with a
    feature tiebreak.

    Scale: one token explode collapses to 16 counts per doc (map-side);
    the 16 per-feature folds ride ONE aggregate; output is 16 rows."""
    from fusionspark.operators.dedup import md5_hash32

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.transform(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != ""),
            lambda t: md5_hash32(t) % 16,
        ).alias("hs"),
    )
    feat = hashed.select(
        "doc_id",
        F.size(F.filter(F.col("hs"), lambda h: h == 0)).cast("long").alias("c0"),
        F.size(F.filter(F.col("hs"), lambda h: h == 1)).cast("long").alias("c1"),
        F.size(F.filter(F.col("hs"), lambda h: h == 2)).cast("long").alias("c2"),
        F.size(F.filter(F.col("hs"), lambda h: h == 3)).cast("long").alias("c3"),
        F.size(F.filter(F.col("hs"), lambda h: h == 4)).cast("long").alias("c4"),
        F.size(F.filter(F.col("hs"), lambda h: h == 5)).cast("long").alias("c5"),
        F.size(F.filter(F.col("hs"), lambda h: h == 6)).cast("long").alias("c6"),
        F.size(F.filter(F.col("hs"), lambda h: h == 7)).cast("long").alias("c7"),
        F.size(F.filter(F.col("hs"), lambda h: h == 8)).cast("long").alias("c8"),
        F.size(F.filter(F.col("hs"), lambda h: h == 9)).cast("long").alias("c9"),
        F.size(F.filter(F.col("hs"), lambda h: h == 10)).cast("long").alias("c10"),
        F.size(F.filter(F.col("hs"), lambda h: h == 11)).cast("long").alias("c11"),
        F.size(F.filter(F.col("hs"), lambda h: h == 12)).cast("long").alias("c12"),
        F.size(F.filter(F.col("hs"), lambda h: h == 13)).cast("long").alias("c13"),
        F.size(F.filter(F.col("hs"), lambda h: h == 14)).cast("long").alias("c14"),
        F.size(F.filter(F.col("hs"), lambda h: h == 15)).cast("long").alias("c15"),
    )
    s = feat.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("c0")).cast("long").alias("s0"),
        F.sum(F.col("c1")).cast("long").alias("s1"),
        F.sum(F.col("c2")).cast("long").alias("s2"),
        F.sum(F.col("c3")).cast("long").alias("s3"),
        F.sum(F.col("c4")).cast("long").alias("s4"),
        F.sum(F.col("c5")).cast("long").alias("s5"),
        F.sum(F.col("c6")).cast("long").alias("s6"),
        F.sum(F.col("c7")).cast("long").alias("s7"),
        F.sum(F.col("c8")).cast("long").alias("s8"),
        F.sum(F.col("c9")).cast("long").alias("s9"),
        F.sum(F.col("c10")).cast("long").alias("s10"),
        F.sum(F.col("c11")).cast("long").alias("s11"),
        F.sum(F.col("c12")).cast("long").alias("s12"),
        F.sum(F.col("c13")).cast("long").alias("s13"),
        F.sum(F.col("c14")).cast("long").alias("s14"),
        F.sum(F.col("c15")).cast("long").alias("s15"),
    )
    j = feat.crossJoin(F.broadcast(s))
    attrs = j.agg(
        F.max("n").cast("long").alias("n"),
        *[F.max(F.col(f"s{k}")).cast("long").alias(f"s{k}") for k in range(16)],
        F.sum(F.abs(F.lit(3) * (F.col("n") * F.col("c0") - F.col("s0")))).cast("long").alias("a0"),
        F.sum(F.abs(F.lit(-2) * (F.col("n") * F.col("c1") - F.col("s1")))).cast("long").alias("a1"),
        F.sum(F.abs(F.lit(5) * (F.col("n") * F.col("c2") - F.col("s2")))).cast("long").alias("a2"),
        F.sum(F.abs(F.lit(1) * (F.col("n") * F.col("c3") - F.col("s3")))).cast("long").alias("a3"),
        F.sum(F.abs(F.lit(-4) * (F.col("n") * F.col("c4") - F.col("s4")))).cast("long").alias("a4"),
        F.sum(F.abs(F.lit(2) * (F.col("n") * F.col("c5") - F.col("s5")))).cast("long").alias("a5"),
        F.sum(F.abs(F.lit(-1) * (F.col("n") * F.col("c6") - F.col("s6")))).cast("long").alias("a6"),
        F.sum(F.abs(F.lit(6) * (F.col("n") * F.col("c7") - F.col("s7")))).cast("long").alias("a7"),
        F.sum(F.abs(F.lit(-3) * (F.col("n") * F.col("c8") - F.col("s8")))).cast("long").alias("a8"),
        F.sum(F.abs(F.lit(2) * (F.col("n") * F.col("c9") - F.col("s9")))).cast("long").alias("a9"),
        F.sum(F.abs(F.lit(4) * (F.col("n") * F.col("c10") - F.col("s10")))).cast("long").alias("a10"),
        F.sum(F.abs(F.lit(-5) * (F.col("n") * F.col("c11") - F.col("s11")))).cast("long").alias("a11"),
        F.sum(F.abs(F.lit(1) * (F.col("n") * F.col("c12") - F.col("s12")))).cast("long").alias("a12"),
        F.sum(F.abs(F.lit(-2) * (F.col("n") * F.col("c13") - F.col("s13")))).cast("long").alias("a13"),
        F.sum(F.abs(F.lit(3) * (F.col("n") * F.col("c14") - F.col("s14")))).cast("long").alias("a14"),
        F.sum(F.abs(F.lit(-6) * (F.col("n") * F.col("c15") - F.col("s15")))).cast("long").alias("a15"),
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("feature"),
                F.lit(_SHAP_W[k]).cast("long").alias("weight"),
                F.col(f"s{k}").alias("total_count"),
                F.round(F.col(f"s{k}").cast("double") / F.col("n"), 6)
                .alias("mean_count"),
                F.round(
                    F.col(f"a{k}").cast("double")
                    / (F.col("n").cast("double") * F.col("n")),
                    6,
                ).alias("mean_abs_attribution"),
                F.col(f"a{k}").alias("_ord"),
            )
            for k in range(16)
        ]
    )
    out = attrs.select(F.explode(entries).alias("r")).select("r.*")
    return (
        out.orderBy(F.col("_ord").desc(), F.col("feature").asc())
        .drop("_ord")
    )


@query(
    "hll_daily_union",
    f"""
    WITH vals AS (
        SELECT DISTINCT user_id::VARCHAR AS v FROM events
    ),
    rb AS (
        SELECT (h // 16777216)::INT AS bucket,
               (length(regexp_extract(lpad(bin(h % 16777216), 24, '0'),
                                      '^0*', 0)) + 1)::INT AS rho
        FROM (SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT AS h FROM vals)
    ),
    regs AS (SELECT bucket, MAX(rho) AS register FROM rb GROUP BY bucket),
    allb AS (SELECT unnest(generate_series(0, 255))::INT AS bucket),
    filled AS (
        SELECT a.bucket, COALESCE(r.register, 0) AS register
        FROM allb a LEFT JOIN regs r ON r.bucket = a.bucket
    ),
    agg AS (
        SELECT SUM(power(2.0, -register)) AS z,
               SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END)::BIGINT AS v,
               SUM((bucket + 1) * register)::BIGINT AS checksum
        FROM filled
    ),
    est AS (
        SELECT CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
                         <= 2.5 * 256.0 AND v > 0
                    THEN 256.0 * ln(256.0 / v)
                    ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
               END AS estimate,
               checksum
        FROM agg
    )
    SELECT (SELECT COUNT(DISTINCT ts::DATE) FROM events)::BIGINT AS n_days,
           (SELECT COUNT(*) FROM vals)::BIGINT AS exact_distinct,
           ROUND(est.estimate, 6) AS merged_estimate,
           est.checksum AS register_checksum
    FROM est
    """,
)
def hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog MERGEABILITY demonstrated on distinct users across
    days: Spark builds one 256-register sketch PER DAY and unions them
    by register-wise max — the property that makes HLL the distributed
    distinct-counter (per-partition sketches merge associatively; a
    day's sketch is 256 bytes regardless of traffic) — while the oracle
    computes the sketch of the whole corpus directly: max is
    associative, so the merged registers are BIT-IDENTICAL to the global
    ones, which the position-weighted register_checksum pins exactly.

    Parity: registers are exact integers; the estimator's z =
    sum(2^-register) sums 256 exact binary fractions (every partial sum
    is exactly representable — order-free by arithmetic, not by
    convention); alpha constants are shared decimal literals with the
    attested hll_distinct.

    Scale: per-day register build is one groupBy(day, bucket) with
    map-side MAX; the merge is a 256*|days| -> 256 groupBy — the
    sketch-sized shuffle that replaces a corpus-sized COUNT DISTINCT."""
    from fusionspark.operators.sketches import hll_registers

    e = load_table(spark, sf_dir, "events")
    n_days = e.agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_days")
    )
    exact = e.agg(F.countDistinct("user_id").cast("long").alias("exact"))
    daily_vals = e.select(
        F.to_date("ts").alias("d"), F.col("user_id").cast("string").alias("v")
    )
    # per-day registers: bucket/rho per value, max per (day, bucket)
    from fusionspark.operators.sketches import hll_bucket_rho

    bucket, rho = hll_bucket_rho(F.col("v"), p=8)
    per_day = (
        daily_vals.select("d", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("register"))
    )
    merged = per_day.groupBy("bucket").agg(
        F.max("register").alias("register")
    )
    allb = load_table(spark, sf_dir, "events").sparkSession.range(256).select(
        F.col("id").cast("int").alias("bucket")
    )
    filled = allb.join(merged, "bucket", "left").select(
        "bucket", F.coalesce("register", F.lit(0)).alias("register")
    )
    agg = filled.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("register"))).alias("z"),
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0))
        .cast("long").alias("v"),
        F.sum((F.col("bucket") + 1) * F.col("register")).cast("long")
        .alias("checksum"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    raw = F.lit(alpha) * 256.0 * 256.0 / F.col("z")
    est = agg.select(
        F.when(
            (raw <= 2.5 * 256.0) & (F.col("v") > 0),
            256.0 * F.log(256.0 / F.col("v")),
        ).otherwise(raw).alias("estimate"),
        "checksum",
    )
    return (
        n_days.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
        .select(
            "n_days",
            F.col("exact").alias("exact_distinct"),
            F.round("estimate", 6).alias("merged_estimate"),
            F.col("checksum").alias("register_checksum"),
        )
    )


_SYS_TARGET = 100


@query(
    "systematic_sample",
    f"""
    WITH w AS (
        SELECT doc_id, n_chars::BIGINT AS wt FROM documents
    ),
    tot AS (SELECT SUM(wt)::BIGINT AS tw FROM w),
    k AS (SELECT greatest(tw // {_SYS_TARGET}, 1)::BIGINT AS k FROM tot),
    cum AS (
        SELECT doc_id, wt,
               SUM(wt) OVER (ORDER BY doc_id)::BIGINT AS c
        FROM w
    )
    SELECT cum.doc_id, cum.wt AS weight, cum.c AS cum_weight,
           (cum.c // k.k - (cum.c - cum.wt) // k.k)::BIGINT AS n_hits
    FROM cum, k
    WHERE cum.c // k.k > (cum.c - cum.wt) // k.k
    ORDER BY cum.doc_id
    """,
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow 1949):
    lay the docs along a line scaled by weight (n_chars), drop a grid of
    spacing k = total_weight // 100, and select every doc whose weight
    interval contains a grid point — the third sampling design beside
    weighted_sample's A-Res (with-replacement-free random order) and
    stratified_sample (per-stratum quotas): zero randomness, strict PPS
    inclusion (P(select) proportional to weight, exactly 1 for weights
    >= k, with n_hits counting multi-hit large units).

    Parity: the selection predicate floor(c/k) > floor((c-w)/k) is EXACT
    integer arithmetic on an exact cumulative window — no float
    anywhere; the doc_id-ordered cumsum is the deterministic line order.

    Scale: r13 — the cumsum now runs as the two-pass parallel scan
    (operators/ranking.py::prefix_sum_exact: bucket totals → bounded
    grid cumulative → bucket-partitioned local cumsum), so no
    unpartitioned window ever touches raw rows; identical exact
    integers, no global sort."""
    from fusionspark.operators.ranking import prefix_sum_exact

    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.col("n_chars").cast("long").alias("wt"))
    tot = w.agg(F.sum("wt").cast("long").alias("tw"))
    k = tot.select(
        F.greatest(F.floor(F.col("tw") / _SYS_TARGET), F.lit(1)).cast("long")
        .alias("k")
    )
    cum = prefix_sum_exact(w, "doc_id", "wt", out_col="c").select(
        "doc_id", "wt", "c"
    )
    j = cum.crossJoin(F.broadcast(k))
    hi = F.floor(F.col("c") / F.col("k"))
    lo = F.floor((F.col("c") - F.col("wt")) / F.col("k"))
    return (
        j.filter(hi > lo)
        .select(
            "doc_id", F.col("wt").alias("weight"),
            F.col("c").alias("cum_weight"),
            (hi - lo).cast("long").alias("n_hits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round 12: ROUGE-L (LCS) — completes the rouge_eval family
# ---------------------------------------------------------------------------

_RL_LEAD = 25
_RL_REF = 60
_RL_MIN_WORDS = 40


@query(
    "rouge_l_eval",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    sp AS (
        SELECT doc_id,
               list_transform(
                   words[1:{_RL_LEAD}],
                   t -> [('0x' || substr(md5('rl:' || t), 1, 8))::BIGINT])
                   AS xs,
               list_transform(
                   words[{_RL_LEAD + 1}:{_RL_LEAD + _RL_REF}],
                   t -> [('0x' || substr(md5('rl:' || t), 1, 8))::BIGINT])
                   AS ys
        FROM w WHERE len(words) >= {_RL_MIN_WORDS}
    ),
    dp AS (
        SELECT doc_id, len(xs)::BIGINT AS la, len(ys)::BIGINT AS lb,
               list_reduce(
                   list_prepend(
                       list_transform(generate_series(0, len(ys)),
                                      j -> 0)::BIGINT[],
                       xs),
                   (prev, xi) -> list_reduce(
                       list_prepend([0::BIGINT], ys),
                       (acc, yj) -> acc
                           || [greatest(
                                 prev[len(acc)]
                                 + CASE WHEN xi[1] = yj[1]
                                        THEN 1 ELSE 0 END,
                                 prev[len(acc) + 1],
                                 acc[len(acc)])]) ) AS row
        FROM sp
    )
    SELECT doc_id, la AS n_cand, lb AS n_ref,
           row[len(row)]::BIGINT AS lcs_len,
           ROUND(2.0 * row[len(row)] / (la + lb), 6) AS rouge_l_f
    FROM dp
    """,
)
def rouge_l_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L F1 — the longest-common-SUBSEQUENCE generation-eval metric
    (Lin 2004 §3), completing rouge_eval's n-gram forms: per doc the
    25-word lead (candidate summary stand-in) aligns against the next 60
    body words (reference stand-in), and F_lcs = 2*LCS/(|cand|+|ref|)
    rewards in-ORDER coverage that clipped unigram counts cannot see
    (a shuffled lead keeps rouge1_f but loses rouge_l_f).

    Parity: tokens compare as 32-bit 'rl:'-salted md5 BIGINTs in BOTH
    engines (hash-equality, not string-equality, so even an md5
    collision agrees across engines); the DP uses the LCS recurrence
    max(prev[j-1]+eq, prev[j], new[j-1]) — adjacent LCS cells differ by
    <=1 so the 3-way max equals the textbook branch-on-eq form
    (replay-pytested); every cell is an exact int64 and the single F1
    division is correctly rounded in the Spark plan, never negative.

    Scale: the metric is within-doc — zero joins, zero shuffles besides
    the parquet scan; the DP runs as ONE Arrow mapInPandas kernel with a
    fully vectorized inner row (a nested F.aggregate fold ran
    interpreted: 7.8 s vs ~1 s at sf0.1 — the cdc_chunk_hashes lesson),
    embarrassingly parallel across partitions."""
    from fusionspark.operators.textstats import rouge_l_stats

    d = load_table(spark, sf_dir, "documents")
    dp = rouge_l_stats(
        d, lead=_RL_LEAD, ref_len=_RL_REF, min_words=_RL_MIN_WORDS
    )
    return dp.select(
        "doc_id", "n_cand", "n_ref", "lcs_len",
        F.round(
            2.0 * F.col("lcs_len") / (F.col("n_cand") + F.col("n_ref")), 6
        ).alias("rouge_l_f"),
    )


# ---------------------------------------------------------------------------
# Round 12: MOSS winnowing fingerprints — dedup candidate generation
# ---------------------------------------------------------------------------

_WF_K = 3          # words per k-gram
_WF_W = 4          # hashes per winnowing window
_WF_MIN_WORDS = _WF_K + _WF_W  # need >= _WF_W k-gram hashes
_WF_DF_CAP = 50    # drop fingerprints shared by more docs (boilerplate)
_WF_TOP = 20


@query(
    "winnowing_fingerprints",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS} AS words FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(words) - {_WF_K - 1}),
                   i -> ('0x' || substr(md5('wf:' ||
                            array_to_string(words[i:i + {_WF_K - 1}], ' ')),
                            1, 8))::BIGINT) AS hs
        FROM w WHERE len(words) >= {_WF_MIN_WORDS}
    ),
    fp AS (
        SELECT DISTINCT doc_id, f
        FROM h, unnest(list_transform(
                 generate_series(1, len(hs) - {_WF_W - 1}),
                 i -> list_min(hs[i:i + {_WF_W - 1}]))) AS t(f)
    ),
    sizes AS (
        SELECT doc_id, COUNT(*)::BIGINT AS nfp FROM fp GROUP BY doc_id
    ),
    rare AS (
        SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= {_WF_DF_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS shared
        FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        JOIN rare r ON r.f = a.f
        GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id, p.shared,
           sa.nfp AS nfp_a, sb.nfp AS nfp_b,
           ROUND(p.shared::DOUBLE / LEAST(sa.nfp, sb.nfp), 6) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.a_id
    JOIN sizes sb ON sb.doc_id = p.b_id
    ORDER BY p.shared DESC, p.a_id ASC, p.b_id ASC
    LIMIT {_WF_TOP}
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing document fingerprinting (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003): hash every {_WF_K}-word k-gram, slide a
    {_WF_W}-hash window, keep the window MINIMUM — the classic guarantee
    that any shared run of >= k+w-1 words leaves at least one common
    fingerprint, at ~2/(w+1) of the k-gram density.  Distinct
    fingerprints join doc-to-doc (the plagiarism/near-dup candidate
    generator); the top-{_WF_TOP} pairs by shared-fingerprint count are
    reported with the containment ratio shared/min(|fp_a|,|fp_b|).

    Parity: fingerprints are 32-bit md5 BIGINTs (ties in a window
    collapse to the same VALUE, so min-by-value is engine-identical
    without a tie rule); counts are exact BIGINTs; containment is one
    correctly-rounded non-negative division; the top-{_WF_TOP} cut is
    fully keyed (shared DESC, a_id, b_id).

    Scale: fingerprint emission is per-doc (zero shuffle); the pair join
    is keyed on the fingerprint VALUE with a df <= {_WF_DF_CAP} cap
    (winnowing's standard ubiquitous-fingerprint drop), so bucket
    fan-out is bounded and no all-pairs join exists — the same
    candidates-only shape as the MinHash LSH family."""
    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ws.alias("words")
    )
    h = d.filter(F.size("words") >= _WF_MIN_WORDS).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("words") - (_WF_K - 1)),
            lambda i: md5_hash32(
                F.concat(
                    F.lit("wf:"),
                    F.concat_ws(" ", F.slice("words", i, _WF_K)),
                )
            ),
        ).alias("hs"),
    )
    fp = (
        h.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - (_WF_W - 1)),
                    lambda i: F.array_min(F.slice("hs", i, _WF_W)),
                )
            ).alias("f"),
        )
        .distinct()
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").cast("long").alias("nfp"))
    rare = fp.groupBy("f").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _WF_DF_CAP
    ).select("f")
    a = fp.select(F.col("doc_id").alias("a_id"), "f")
    b = fp.select(F.col("doc_id").alias("b_id"), "f")
    pairs = (
        a.join(rare, "f")
        .join(b, "f")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("nfp").alias("nfp_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("nfp").alias("nfp_b"))
    return (
        pairs.join(sa, "a_id").join(sb, "b_id")
        .select(
            "a_id", "b_id", "shared", "nfp_a", "nfp_b",
            F.round(
                F.col("shared").cast("double")
                / F.least("nfp_a", "nfp_b"),
                6,
            ).alias("containment"),
        )
        .orderBy(F.col("shared").desc(), F.col("a_id").asc(), F.col("b_id").asc())
        .limit(_WF_TOP)
    )
