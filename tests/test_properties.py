"""Property-based invariants (hypothesis) for the pair-generation and
chunking operators — the blocking optimizations must be invisible in the
result sets on arbitrary corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from hypothesis import HealthCheck, example, given, settings, strategies as st

from fusionspark.operators import dedup

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
doc_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=2,
    max_size=14,
)

_SETTINGS = dict(
    max_examples=8,  # each example runs Spark jobs; keep the corpus count low
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(texts=doc_strategy)
@settings(**_SETTINGS)
def test_simhash_banding_complete_on_random_corpora(spark, texts):
    """Banded pair generation == all-pairs brute force for ANY corpus."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(df).collect()}
    brute = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 4
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_neardup(df, max_hamming=4).collect()
    }
    assert banded == brute


@given(texts=doc_strategy)
@settings(**_SETTINGS)
def test_minhash_salting_invariant_on_random_corpora(spark, texts):
    """Forcing every bucket through the salt-split must not change the
    candidate set."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    plain = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(df, salt_threshold=10**9).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidates(df, salt_threshold=0, n_salts=4).collect()
    }
    assert plain == salted


@given(
    text=st.text(
        alphabet=st.sampled_from(list("ab cd.\n")), min_size=0, max_size=400
    ),
    chunk_size=st.integers(min_value=16, max_value=120),
)
@example("\n\naaaaaaaaaaaaaaa", 16)
@settings(max_examples=30, deadline=None)
def test_recursive_chunks_invariants(text, chunk_size):
    """Pure-Python chunker invariants: short text passes through verbatim
    (reference parity, incl. empty input), split outputs are non-empty,
    and the first chunk is the input's first text after at most a run of
    separator characters: no overlap is prepended to chunk 0, and, as in
    the reference's `current ? current + sep + part : part`, a leading
    separator is dropped with the empty part before it."""
    from fusionspark.operators.chunking import split_recursive

    chunks = split_recursive(text, chunk_size=chunk_size, chunk_overlap=4)
    if len(text) <= chunk_size:
        assert chunks == [text]
        return
    assert chunks
    for c in chunks:
        assert c
    k = text.find(chunks[0])
    assert k >= 0 and set(text[:k]) <= set("\n. ")  # the default separators' chars


# ── binary-parser hardening: malformed inputs raise, never hang ───────────


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=120, deadline=2000)
def test_jpeg_decode_never_hangs_on_garbage(data):
    import pytest

    from fusionspark.operators.jpeg import jpeg_decode

    with pytest.raises(Exception):
        jpeg_decode(data)  # garbage can't be a valid image


@given(st.binary(min_size=0, max_size=300), st.integers(0, 200))
@settings(max_examples=80, deadline=2000)
def test_jpeg_decode_survives_truncation_and_bitflips(tail, cut):
    import numpy as np

    from fusionspark.operators.jpeg import jpeg_decode, jpeg_encode

    qb = np.zeros((6, 8, 8), dtype=np.int64)
    for b in range(6):
        qb[b, 0, 0] = b * 13 - 30
    good = jpeg_encode(None, qblocks=qb, size=(24, 16))
    mutated = good[: max(2, len(good) - cut)] + tail
    try:
        out = jpeg_decode(mutated)
        assert out.dtype == np.uint8  # decoded despite mutation: fine
    except Exception:
        pass  # raising is the other acceptable outcome — never hang/corrupt


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=120, deadline=2000)
def test_warc_parser_never_hangs(data):
    from fusionspark.operators.warc import warc_parse

    try:
        recs = warc_parse(data)  # empty/blank-line streams parse to []
        assert recs == [] or isinstance(recs, list)
    except Exception:
        pass


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=120))
def test_unicode_clean_idempotent(s):
    """Cleanup must be a projection: clean(clean(x)) == clean(x)."""
    from fusionspark.operators.textstats import py_unicode_clean

    once = py_unicode_clean(s)
    assert py_unicode_clean(once) == once


def test_kmv_estimate_accuracy_and_merge_law(spark):
    """KMV distinct estimate lands within ~4/sqrt(k) of truth on a
    crafted 10k-distinct set, and the sketch is MERGEABLE: the k-min of
    the union equals the k-min over the union of the two sketches."""
    from fusionspark.operators.sketches import kmv_estimate, kmv_hashes

    a = spark.range(0, 10_000).select(F.concat(F.lit("v"), "id").alias("v"))
    sk = kmv_hashes(a, F.col("v"), k=64)
    est = kmv_estimate(sk, 64).first()["est_distinct"]
    assert abs(est - 10_000) / 10_000 < 4 / (64 ** 0.5)

    b = spark.range(5_000, 15_000).select(F.concat(F.lit("v"), "id").alias("v"))
    direct = [r["h"] for r in kmv_hashes(a.union(b), F.col("v"), 64).collect()]
    merged_df = kmv_hashes(a, F.col("v"), 64).union(kmv_hashes(b, F.col("v"), 64))
    merged = [r["h"] for r in
              merged_df.distinct().orderBy("h").limit(64).collect()]
    assert direct == merged


def test_theta_intersection_bounds(spark):
    """est_intersect ≈ true overlap within sketch error and never exceeds
    the union estimate."""
    from fusionspark.operators.sketches import kmv_hashes, theta_estimates

    a = spark.range(0, 8_000).select(F.concat(F.lit("t"), "id").alias("v"))
    b = spark.range(4_000, 12_000).select(F.concat(F.lit("t"), "id").alias("v"))
    sa, sb = kmv_hashes(a, F.col("v"), 64), kmv_hashes(b, F.col("v"), 64)
    r = theta_estimates(sa, sb, 64).first()
    assert r["est_intersect"] <= r["est_union"]
    assert abs(r["est_union"] - 12_000) / 12_000 < 0.6
    assert abs(r["est_intersect"] - 4_000) / 4_000 < 0.9  # θ-sketch variance


@given(
    weights=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40
    ),
    k=st.integers(min_value=1, max_value=12),
)
@settings(**_SETTINGS)
def test_weighted_sample_invariants(spark, weights, k):
    """A-Res weighted sampling on ANY weight vector: the sample is a
    subset of the population, has exactly min(k, n) rows, contains no
    duplicates, and is invariant to repartitioning."""
    from fusionspark.operators.sampling import weighted_sample

    rows = list(enumerate(weights))
    df = spark.createDataFrame(rows, "doc_id: long, w: long")
    got = weighted_sample(df, "w", k).select("doc_id").collect()
    ids = [r["doc_id"] for r in got]
    eligible = [i for i, w in rows if w > 0]  # w <= 0: inclusion prob 0
    assert len(ids) == min(k, len(eligible))
    assert len(set(ids)) == len(ids)
    assert set(ids) <= set(eligible)
    again = weighted_sample(df.repartition(5), "w", k).select("doc_id").collect()
    assert sorted(ids) == sorted(r["doc_id"] for r in again)


@given(
    n=st.integers(min_value=4, max_value=40),
    k=st.integers(min_value=2, max_value=4),
    seed=st.integers(min_value=0, max_value=2**16),
)
@settings(**_SETTINGS)
def test_kmeans_partition_invariant_and_total(spark, n, k, seed):
    """Exact k-means on ANY corpus: every row is assigned exactly once,
    clusters ∈ [0, k), and the assignment is partitioning-invariant
    (the bit-reproducibility claim on random data, not just testdata)."""
    import numpy as np

    from fusionspark.operators import clustering

    rng = np.random.default_rng(seed)
    x = np.clip(rng.normal(scale=0.3, size=(n, 64)), -0.9, 0.9)
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    schema = "vec_id long, embedding array<double>"
    a = clustering.lloyd(
        spark.createDataFrame(rows, schema).repartition(1), k=k, iters=2
    ).collect()
    b = clustering.lloyd(
        spark.createDataFrame(rows, schema).repartition(7), k=k, iters=2
    ).collect()
    am = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in a}
    bm = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in b}
    assert am == bm
    assert len(am) == n
    assert all(0 <= c < k for c, _ in am.values())


@given(texts=doc_strategy)
@settings(**_SETTINGS)
def test_prefix_join_lossless_on_random_corpora(spark, texts):
    """Prefix + length filtering == all-pairs exact Jaccard ≥ t for ANY
    corpus (the PPJoin completeness theorem, empirically)."""
    from fusionspark.operators.dedup import _py_shingles
    from fusionspark.operators.simjoin import jaccard_join_prefix

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_join_prefix(df, t_num=3, t_den=5).collect()
    }
    sets = {i: set(_py_shingles(t, 3)) for i, t in enumerate(texts)}
    want = set()
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter and inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.6:
                want.add((a, b))
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_skyline_window_matches_dominance_on_random_points(spark, pts):
    """The running-max window skyline == the O(n²) dominance definition
    for ANY point set (minimize x, maximize y), duplicates included."""
    from pyspark.sql import Window

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id: long, price: long, qty: long")
    w1 = Window.orderBy("price").rangeBetween(Window.unboundedPreceding, -1)
    w2 = Window.orderBy("price").rangeBetween(Window.unboundedPreceding, 0)
    got = {
        r["id"]
        for r in df.withColumn("m1", F.max("qty").over(w1))
        .withColumn("m2", F.max("qty").over(w2))
        .filter(
            ~F.coalesce(F.col("m1") >= F.col("qty"), F.lit(False))
            & (F.col("m2") <= F.col("qty"))
        )
        .collect()
    }
    want = set()
    for i, (x, y) in enumerate(pts):
        dominated = any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for j, (x2, y2) in enumerate(pts)
            if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want
