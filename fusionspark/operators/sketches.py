"""Cardinality sketches: a deterministic HyperLogLog built on the repo's
engine-portable md5 hash.

Not in the reference (north-star addition): corpus bookkeeping at 100 TB
(distinct URLs, shingles, tokens, users) can't afford exact COUNT(DISTINCT)
— HLL registers are tiny (2^p bytes), mergeable (max is associative and
commutative, so map-side partial aggregation applies), and unionable across
shards/days.  Spark's own approx_count_distinct is a black-box HLL++ whose
register layout can't be replayed elsewhere; this one is defined entirely
by md5 (identical in Spark / DuckDB / Python), so the DuckDB oracle
reproduces every register bit-for-bit and the estimate to float equality —
the sketch itself is attestable, not just its row count.

Layout (Flajolet et al. 2007): 32-bit hash = p bucket bits (top) +
(32 − p) tail bits; register_b = max over values of (leading zeros of the
tail + 1); raw estimate α_m·m²/Σ 2^(−M_b) with the standard small-range
linear-counting correction m·ln(m/V) when E ≤ 2.5m and V > 0 registers
are empty."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fusionspark.operators.dedup import md5_hash32


def hll_rho(tail: Column, tail_bits: int) -> Column:
    """Position of the first 1-bit in the `tail_bits`-wide value (1-based;
    all-zero → tail_bits + 1), via the binary-string leading-zero count —
    the same regexp formulation the DuckDB oracle uses (no float log2,
    whose rounding at exact powers of two differs between engines)."""
    padded = F.lpad(F.bin(tail), tail_bits, "0")
    lz = F.length(F.regexp_extract(padded, "^0*", 0))
    return (lz + 1).cast("int")


def hll_bucket_rho(value: Column, p: int = 8) -> tuple[Column, Column]:
    """(bucket, rho) columns for one value — the per-row sketch
    contribution (groupBy(bucket).max(rho) gives the registers)."""
    tail_bits = 32 - p
    h = md5_hash32(value)
    return (
        (h / (1 << tail_bits)).cast("int").alias("bucket"),
        hll_rho(h % (1 << tail_bits), tail_bits).alias("rho"),
    )


def hll_registers(df: DataFrame, value: Column, p: int = 8) -> DataFrame:
    """(bucket, register) rows for the DISTINCT values of `value` — the
    mergeable sketch state.  One shuffle on the 2^p bucket ids with
    map-side partial max; empty buckets are materialized as register 0 so
    unions/merges are positional."""
    m = 1 << p
    spark = df.sparkSession
    bucket, rho = hll_bucket_rho(value, p)
    regs = (
        df.select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )
    all_buckets = spark.range(m).select(F.col("id").cast("int").alias("bucket"))
    return all_buckets.join(regs, "bucket", "left").select(
        "bucket", F.coalesce("register", F.lit(0)).cast("int").alias("register")
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """Collapse (bucket, register) state to a 1-row estimate, with the
    small-range linear-counting correction."""
    m = float(1 << p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("register"))).alias("z"),
        F.sum((F.col("register") == 0).cast("long")).alias("v"),
    )
    raw = F.lit(alpha) * m * m / F.col("z")
    corrected = F.when(
        (raw <= 2.5 * m) & (F.col("v") > 0),
        F.lit(m) * F.log(F.lit(m) / F.col("v")),
    ).otherwise(raw)
    return agg.select(corrected.alias("estimate"))


def hll_distinct(df: DataFrame, value: Column, p: int = 8) -> DataFrame:
    """End-to-end: estimate the number of distinct `value`s, alongside the
    exact count (cheap at test SF; the point of the sketch is that at
    100 TB you keep ONLY the 2^p registers)."""
    est = hll_estimate(hll_registers(df, value, p), p)
    exact = df.agg(F.countDistinct(value).alias("n_exact"))
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        F.round("estimate", 6).alias("hll_estimate"),
        F.round(
            F.abs(F.col("estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


# ── Bloom filter (membership) ─────────────────────────────────────────────

BLOOM_BITS = 1 << 16          # m: bit-array size
BLOOM_WORD = 32               # bits per stored word (1<<bit stays positive)
BLOOM_K = 4                   # hash count


def _bloom_positions(value: Column) -> list[Column]:
    """k Carter-Wegman bit positions from two md5 bases — the same
    double-hashing scheme the MinHash signatures use, so any engine
    replays the exact bit pattern."""
    h1 = md5_hash32(value)
    h2 = md5_hash32(F.concat(F.lit("b:"), value))
    return [(h1 + i * h2) % BLOOM_BITS for i in range(BLOOM_K)]


def bloom_build(df: DataFrame, value: Column) -> DataFrame:
    """(word_idx, bits) rows — the Bloom filter over the DISTINCT values,
    stored as 2048 32-bit words.  Built with one explode + groupBy(word)
    BIT_OR (map-side combinable); mergeable across shards/days by
    positional OR, like the HLL registers by positional max.  At 100 TB
    this is THE cheap 'have we already ingested this URL/doc-hash?' probe:
    8 KiB of state, no index lookup, no corpus re-read."""
    pos = F.explode(F.array(*_bloom_positions(value))).alias("pos")
    return (
        df.select(pos)
        .select(
            (F.col("pos") / BLOOM_WORD).cast("int").alias("word_idx"),
            # python-side shiftleft requires a literal shift; the SQL form
            # takes a column
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_probe(bloom: DataFrame, probes: DataFrame, value: Column, id_col: str) -> DataFrame:
    """Membership test: present ⇔ every one of the K bits is set.  The
    filter (≤ 2048 rows) BROADCASTS; the probe stream never shuffles
    (groupBy on the probe id collapses the K position rows per probe,
    map-side combinable)."""
    pos = F.explode(F.array(*_bloom_positions(value))).alias("pos")
    ppos = probes.select(F.col(id_col), pos).select(
        id_col,
        (F.col("pos") / BLOOM_WORD).cast("int").alias("word_idx"),
        (F.col("pos") % BLOOM_WORD).cast("int").alias("bit"),
    )
    joined = ppos.join(F.broadcast(bloom), "word_idx", "left")
    hit = (
        F.expr("shiftright(coalesce(bits, CAST(0 AS BIGINT)), bit)") % 2
    ) == 1
    return (
        joined.groupBy(id_col)
        .agg(F.min(hit.cast("int")).alias("all_set"))
        .select(id_col, (F.col("all_set") == 1).alias("present"))
    )


# ── Count-Min sketch (frequency) ──────────────────────────────────────────

CMS_WIDTH = 1 << 12           # columns per row
CMS_DEPTH = 4                 # hash rows


def cms_build(df: DataFrame, value: Column) -> DataFrame:
    """(row, col, cnt) cells of a Count-Min sketch over the value STREAM
    (duplicates counted).  One explode + groupBy((row, col)) SUM —
    map-side combinable, mergeable across shards by cellwise addition.
    depth×width cells (16k) regardless of stream size."""
    h1 = md5_hash32(value)
    h2 = md5_hash32(F.concat(F.lit("c:"), value))
    cells = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("row"), ((h1 + i * h2) % CMS_WIDTH).alias("col"))
            for i in range(CMS_DEPTH)
        ])
    ).alias("cell")
    return (
        df.select(cells)
        .select(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(cms: DataFrame, probes: DataFrame, value: Column, id_col: str) -> DataFrame:
    """Frequency estimate = MIN over the depth cells (classic CM upper
    bound: est ≥ true, overshoot bounded by collisions).  The sketch
    broadcasts; probes never shuffle except the K-row collapse."""
    h1 = md5_hash32(value)
    h2 = md5_hash32(F.concat(F.lit("c:"), value))
    cells = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("row"), ((h1 + i * h2) % CMS_WIDTH).alias("col"))
            for i in range(CMS_DEPTH)
        ])
    ).alias("cell")
    ppos = probes.select(F.col(id_col), cells).select(
        id_col, F.col("cell.row").alias("row"), F.col("cell.col").alias("col")
    )
    joined = ppos.join(F.broadcast(cms), ["row", "col"], "left")
    return (
        joined.groupBy(id_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def bloom_prefilter(big: DataFrame, bloom: DataFrame, value: Column) -> DataFrame:
    """Filter `big` down to rows whose `value` passes the Bloom membership
    test — WITHOUT shuffling `big`: each of the K bit probes is one
    BROADCAST hash join against the ≤ 2^p/32-row word table plus a bit
    test, so the plan is scan → K broadcast joins → filter.  This is the
    hand-rolled runtime-filter pattern (Spark's AQE bloom-filter join
    does the same behind the scenes): put it BEFORE an expensive shuffle
    join so only probable matches (+ the FP rate) pay the exchange.
    False positives survive here and must be dropped by the real join.

    The sketch state is materialized to a LOCAL frame first (≤ 2^p/32
    rows — being tiny is the point of a sketch), so the K probe joins
    broadcast a literal table instead of recomputing the build subtree
    K times."""
    spark = big.sparkSession
    rows = [(int(r["word_idx"]), int(r["bits"])) for r in bloom.collect()]
    bloom = spark.createDataFrame(rows or [(0, 0)], "word_idx int, bits long")
    out = big
    cond = None
    for i, pos in enumerate(_bloom_positions(value)):
        out = out.withColumn(f"_bp{i}", pos)
        w = bloom.select(
            F.col("word_idx").alias(f"_bw{i}"), F.col("bits").alias(f"_bb{i}")
        )
        out = out.join(
            F.broadcast(w),
            (F.col(f"_bp{i}") / BLOOM_WORD).cast("int") == F.col(f"_bw{i}"),
            "left",
        )
        hit = (
            F.expr(
                f"shiftright(coalesce(_bb{i}, CAST(0 AS BIGINT)),"
                f" CAST(pmod(_bp{i}, {BLOOM_WORD}) AS INT))"
            ) % 2
        ) == 1
        cond = hit if cond is None else (cond & hit)
    drop = [c for c in out.columns if c.startswith(("_bp", "_bw", "_bb"))]
    return out.filter(cond).drop(*drop)


# ── KMV / theta sketch (distinct counting with set algebra) ───────────────


def kmv_hashes(df: DataFrame, value: Column, k: int = 64) -> DataFrame:
    """The k minimum distinct md5-hash32 values of `value` — a KMV/theta
    sketch (Beyer et al. 2007).  Catalyst compiles distinct+orderBy+limit
    to partial hash aggregation followed by TakeOrdered, so every
    partition contributes at most k candidates and only k·P values reach
    the driver-side merge — constant-size state at any corpus size,
    and the sketch itself is k rows (broadcast-trivial downstream).

    Unlike HLL (hll_registers above), KMV supports set ALGEBRA: union and
    intersection estimates from the samples (theta_estimates below) —
    HLL can only union."""
    return (
        df.select(md5_hash32(value).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


_H_SPACE = 4294967296.0  # 2^32, the md5_hash32 range


def kmv_estimate(hashes: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: (k-1) / θ_frac with
    θ = k-th minimum hash.  A non-full sketch (fewer than k distinct
    values) IS the exact answer."""
    agg = hashes.agg(
        F.count("*").alias("n"), F.max("h").cast("double").alias("kth")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise((F.lit(float(k - 1)) * F.lit(_H_SPACE)) / F.col("kth"))
    return agg.select(F.round(est, 6).alias("est_distinct"))


def theta_estimates(
    a: DataFrame, b: DataFrame, k: int = 64
) -> DataFrame:
    """Union / intersection estimates from two FULL KMV sketches via the
    theta-sketch rule: θ = min(θ_A, θ_B); both samples are cut to h < θ
    and |S| / θ_frac estimates the corresponding set size.  Everything is
    k-row frames, so every join below is a broadcast of constant size."""
    ta = a.agg(F.max("h").alias("tha"))
    tb = b.agg(F.max("h").alias("thb"))
    th = ta.crossJoin(tb).select(
        F.least("tha", "thb").cast("double").alias("theta")
    )
    au = a.crossJoin(F.broadcast(th)).filter(F.col("h") < F.col("theta"))
    bu = b.crossJoin(F.broadcast(th)).filter(F.col("h") < F.col("theta"))
    inter = au.select("h").join(bu.select("h"), "h")
    uni = au.select("h").union(bu.select("h")).distinct()
    counts = (
        uni.agg(F.count("*").alias("n_union"))
        .crossJoin(inter.agg(F.count("*").alias("n_inter")))
        .crossJoin(th)
    )
    frac = F.col("theta") / F.lit(_H_SPACE)
    return counts.select(
        F.round(F.col("n_union").cast("double") / frac, 6).alias("est_union"),
        F.round(F.col("n_inter").cast("double") / frac, 6).alias("est_intersect"),
    )

