import os, sys, re; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from fusionspark.session import get_spark
from fusionspark.io import load_table
from pyspark.sql import functions as F
spark = get_spark(); spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.1"


# ── registry-wide window-partition audit (VERDICT r12 #5) ────────────────
# `python tools/plan_audit.py --windows` sweeps EVERY registry query's
# optimized logical plan and, for each Window node, reports whether it is
# partitioned and whether its input is bounded (an Aggregate or a
# GlobalLimit sits between the window and every base relation).  The one
# anti-pattern class previously guarded only by docstring discipline — an
# UNPARTITIONED window whose input is a raw table — is a hard FLAG unless
# the query is in WINDOW_WHITELIST with a justification.  At 100 TB an
# unpartitioned window over raw rows is a single-reducer global sort; over
# a post-aggregation frame it touches only the (bounded) group grid.

#: query -> why its unpartitioned raw-input window is acceptable.  The
#: r13 burn-down rewrote SEVEN of the original nine entries onto grid
#: forms (operators/ranking.py::ntile_exact for NTILE designs —
#: nb_calibration, curriculum_shards, ccnet_buckets; value-grid
#: cumulative order-statistic picks for two rank-pick designs since
#: deleted; prefix_sum_exact's two-pass
#: parallel scan for systematic_sample), all output-identical and
#: strict ×3-SF re-gated.  r14 closed the last two (context_pack,
#: quality_estimate): their windows were always bounded by the keyword
#: top-10 GlobalLimit, but a join-back to re-fetch `text` put a raw
#: relation path under the window — keyword_search now carries
#: keep_cols through the TakeOrdered heap, so the limit bounds every
#: path and the detector classifies the frames itself.  EMPTY by
#: construction from r14 on.
WINDOW_WHITELIST: dict[str, str] = {}


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node_name) per line of a catalyst toString tree."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        stripped = line
        depth = 0
        while stripped[:3] in ("   ", ":  ", "+- ", ":- "):
            last = stripped[:3]
            stripped = stripped[3:]
            depth += 1
            if last in ("+- ", ":- "):
                break
        name = stripped.split(" ", 1)[0].split("(", 1)[0]
        out.append((depth, name, stripped))
    return out


#: nodes that bound the row count flowing upward (grid/group/limit frames)
_BOUNDING = {"Aggregate", "GlobalLimit", "Deduplicate", "OneRowRelation",
             "LocalRelation", "Range"}


def _window_report(plan: str) -> list[dict]:
    """For each Window node: partitioned? every-path-bounded?"""
    nodes = _parse_tree(plan)
    reports = []
    for i, (d, name, text) in enumerate(nodes):
        if name != "Window":
            continue
        # top-level bracket groups of the node text: [exprs], then either
        # [partitionSpec], [orderSpec] (3 groups), or a single second group
        # that is the ORDER spec when the window is unpartitioned (sort
        # expressions carry ASC/DESC) and the PARTITION spec when the
        # window is partitioned but unordered (count-over-partition).
        groups: list[str] = []
        lvl = 0
        start = -1
        for pos, ch in enumerate(text):
            if ch == "[":
                if lvl == 0:
                    start = pos + 1
                lvl += 1
            elif ch == "]":
                lvl -= 1
                if lvl == 0:
                    groups.append(text[start:pos])
        if len(groups) >= 3:
            partitioned = True
        elif len(groups) == 2:
            partitioned = not re.search(r"\b(ASC|DESC)\b", groups[1])
        else:
            partitioned = False
        # subtree = following lines with depth > d, until depth <= d
        unbounded_rel = []
        stack: list[tuple[int, str]] = []  # (depth, name) ancestry below window
        for d2, n2, _t2 in nodes[i + 1:]:
            if d2 <= d:
                break
            while stack and stack[-1][0] >= d2:
                stack.pop()
            if n2.startswith("Relation"):
                if not any(s in _BOUNDING for _, s in stack):
                    unbounded_rel.append(_t2.split("parquet")[0][:60])
            stack.append((d2, n2))
        reports.append(
            {"partitioned": partitioned, "raw_inputs": unbounded_rel}
        )
    return reports


if "--windows" in sys.argv:
    from fusionspark.queries import REGISTRY, load_all

    load_all()
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    flagged = []
    for qname, (fn, _sql) in REGISTRY.items():
        if only and qname not in only:
            continue
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            print(f"?? {qname}: PLAN ERROR {e}")
            continue
        reps = _window_report(plan)
        bad = [r for r in reps if not r["partitioned"] and r["raw_inputs"]]
        if not reps:
            continue
        status = "FLAG" if bad and qname not in WINDOW_WHITELIST else "ok"
        if bad and qname in WINDOW_WHITELIST:
            status = f"whitelisted ({WINDOW_WHITELIST[qname]})"
        summary = [
            ("unpart" if not r["partitioned"] else "part")
            + ("/raw" if r["raw_inputs"] else "/bounded")
            for r in reps
        ]
        print(f"== {qname}: windows={summary} {status}")
        for r in bad:
            print(f"   raw inputs: {r['raw_inputs']}")
        if status == "FLAG":
            flagged.append(qname)
    print(f"\nwindow audit: {len(flagged)} flagged", flagged)
    sys.exit(0 if not flagged else 1)

def audit(name, df):
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    n_shuffle = plan.count("Exchange")
    n_bcast = plan.count("BroadcastExchange")
    n_wsc = plan.count("codegen id")
    print(f"== {name}: shuffles={n_shuffle - n_bcast} broadcasts={n_bcast} codegen_spans={n_wsc}")
    for p in pushed[:3]:
        print("   pushed:", p[:100])
    for s in schemas[:3]:
        print("   schema:", s[:110])

# 1. filtered scan: does the filter reach parquet?
e = load_table(spark, sf, "embeddings")
audit("filter_eq", e.filter(F.col("label") == 3).select("vec_id", "label"))

# 2. knn plan
from fusionspark.operators.knn import knn, self_probes
audit("knn", knn(e, self_probes(e, 4), k=5))

# 3. star join: broadcasts?
c = load_table(spark, sf, "customer"); n = load_table(spark, sf, "nation")
o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus")=="F")
li = load_table(spark, sf, "lineitem")
j = (li.join(F.broadcast(o), li.l_orderkey==o.o_orderkey)
      .join(F.broadcast(c), o.o_custkey==c.c_custkey)
      .join(F.broadcast(n), c.c_nationkey==n.n_nationkey)
      .groupBy("c_custkey").agg(F.sum("l_extendedprice").alias("rev")))
audit("star_join", j)

# 5. keyword scan column pruning
d = load_table(spark, sf, "documents")
from fusionspark.operators.keyword import keyword_search
audit("keyword", keyword_search(d, "fast table scan", 10))

# 6. persisted IVF: partition pruning + no corpus-side exchange
import tempfile, shutil
from fusionspark.operators.ann import persist_ivf, ivf_search_persisted
from fusionspark.operators.knn import self_probes
root = tempfile.mkdtemp(prefix="plan-audit-ivf-")
emb = load_table(spark, sf, "embeddings")
persist_ivf(emb, f"{root}/ivf", n_centroids=8)
probes = self_probes(emb, 4)
pers = ivf_search_persisted(spark, f"{root}/ivf", probes, k=5, n_probe=2)
audit("ivf_persisted", pers)
import io as _io, contextlib as _ctx
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    pers.explain("formatted")
pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", buf.getvalue())
print("   partition_filters:", [p[:90] for p in pf if p.strip()])
shutil.rmtree(root, ignore_errors=True)

# 7. inverted keyword index: search must not scan the corpus
from fusionspark.operators.keyword import persist_keyword_index, keyword_search_indexed
root2 = tempfile.mkdtemp(prefix="plan-audit-kw-")
persist_keyword_index(d, f"{root2}/kw")
idx = spark.read.parquet(f"{root2}/kw")
ks = keyword_search_indexed(idx, "fast table scan merge join", 10)
audit("keyword_indexed", ks)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    ks.explain("formatted")
print("   corpus_scan_in_plan:", "documents" in buf.getvalue())
shutil.rmtree(root2, ignore_errors=True)

# 8. IVF assignment: pure map (no Exchange/Join/Window)
from fusionspark.operators.ann import deterministic_centroids, ivf_assign
assigned = ivf_assign(emb, deterministic_centroids(emb, 8))
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    assigned.explain("formatted")
plan = buf.getvalue()
print(f"== ivf_assign: exchanges={plan.count('Exchange')} joins={plan.count('Join')} windows={plan.count('Window')} (all must be 0)")

# 9. TPC-H Q4-shape: EXISTS compiles to a left-semi join (no duplication)
o = load_table(spark, sf, "orders")
li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
late = o.join(
    li,
    (o["o_orderkey"] == li["l_orderkey"])
    & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
    "left_semi",
).groupBy("o_orderpriority").count()
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    late.explain("formatted")
print("== q4_semi_join: LeftSemi in plan:", "LeftSemi" in buf.getvalue())

# 8. round-6 session-3 plan claims
from fusionspark.operators.keyword import bm25_search
audit("bm25_single_scan", bm25_search(d, "fast table scan merge join", 10))

from fusionspark.operators.joins import salted_join
ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
dim = ev.select("user_id").distinct().withColumn("tag", F.lit("x"))
audit("salted_join", salted_join(ev, dim, "user_id", F.col("event_id"), 8))

from fusionspark.operators.sketches import bloom_build, hll_registers
audit("hll_registers", hll_registers(d.select(F.md5("text").alias("v")), F.col("v")))
audit("bloom_build", bloom_build(d.select(F.md5("text").alias("v")), F.col("v")))

from fusionspark.queries import REGISTRY, load_all
load_all()

# 11. round-6 session-4 plan claims
from fusionspark.operators.keyword import tfidf_pairs
audit("tfidf_pairs", tfidf_pairs(d))

audit("incremental_rollup", REGISTRY["incremental_rollup"][0](spark, sf))

# 12. round-8 session-3 plan claims
# weighted sample: global top-K must be TakeOrdered (partial per-partition
# top-K), not a full sort exchange
from fusionspark.operators.sampling import weighted_sample
ws = weighted_sample(d.select("doc_id", "n_chars"), "n_chars", 200)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    ws.explain("formatted")
p = buf.getvalue()
print("== weighted_sample: take_ordered:", "TakeOrderedAndProject" in p,
      "full_sort:", ("Sort " in p and "TakeOrderedAndProject" not in p))

# gram_int: corpus must NOT shuffle — only the 4161-row partials exchange
from fusionspark.operators.spectral import gram_int
g = gram_int(load_table(spark, sf, "embeddings"))
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    g.explain("formatted")
p = buf.getvalue()
# formatted plans list each node in the tree AND the detail section, so a
# single Exchange node counts twice here; 2 == exactly one exchange (the
# 4161-row partials groupBy) — the corpus itself never shuffles
print(f"== gram_int: exchange_mentions={p.count('Exchange')} (2 = one node, partials only)",
      "mapInPandas:", "MapInPandas" in p)

# kmeans assign pass: centroid literal in plan, zero shuffle, no join
from fusionspark.operators.clustering import _assign
from fusionspark.operators.spectral import quantize
rows = load_table(spark, sf, "embeddings").select(
    F.col("vec_id").alias("id"), quantize("embedding").alias("xi"))
a = _assign(rows, [[0] * 64 for _ in range(8)])
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    a.explain("formatted")
p = buf.getvalue()
print(f"== kmeans_assign_pass: exchanges={p.count('Exchange')} joins={p.count('Join')} (all must be 0)")

# 13. round-8 session-5 plan claims
# moments_int: corpus never shuffles — one MapInPandas partial pass, one
# 65-row groupBy exchange; centroid_outliers cut must be TakeOrdered
from fusionspark.operators.spectral import centroid_outliers, moments_int
mi = moments_int(load_table(spark, sf, "embeddings"))
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    mi.explain("formatted")
p = buf.getvalue()
print(f"== moments_int: exchange_mentions={p.count('Exchange')} (2 = one node, partials only)",
      "mapInPandas:", "MapInPandas" in p)
co = centroid_outliers(load_table(spark, sf, "embeddings"), k=20)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    co.explain("formatted")
p = buf.getvalue()
print("== centroid_outliers: take_ordered:", "TakeOrderedAndProject" in p,
      "cartesian:", "CartesianProduct" in p)

# zipf: word-digest groupBy + TakeOrdered(200) — no global sort of the corpus
z = REGISTRY["zipf_fit"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    z.explain("formatted")
p = buf.getvalue()
print("== zipf_fit: take_ordered:", "TakeOrderedAndProject" in p)

# heaps: NO corpus-length window — the only window-free requirement is that
# every Exchange keys on word/bucket digests (checkpoint sampling)
h = REGISTRY["heaps_law"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    h.explain("formatted")
p = buf.getvalue()
print(f"== heaps_law: window_nodes={p.count('Window')} (over 64 bucket rows only)")

# doc_keywords: top-3 window must partition BY doc_id (no global sort)
dk = REGISTRY["doc_keywords"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    dk.explain("formatted")
p = buf.getvalue()
import re as _re
print("== doc_keywords: partitioned_window:",
      bool(_re.search(r"hashpartitioning\(doc_id#\d+L?, 32\)", p)),
      "group_limit_pushdown:", "WindowGroupLimit" in p)

# 14. round-8 session-6 plan claims
# frequent_pairs: apriori prefilter must be a BROADCAST join; the basket
# self-join must be a shuffled EQUI-join on orderkey (never cartesian)
fp = REGISTRY["frequent_pairs"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    fp.explain("formatted")
p = buf.getvalue()
# at sf0.1 the pruned basket side is small enough that AQE broadcasts the
# self-join too — any HASH equi-join is the pass condition; the failure
# modes are CartesianProduct / BroadcastNestedLoopJoin
print("== frequent_pairs: broadcasts:", p.count("BroadcastExchange") >= 1,
      "equi_self_join:", any(k in p for k in
          ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")),
      "cartesian:", "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p)

# substring_dedup: the shuffle must carry digests, never the text column —
# no Exchange output schema may mention text#
sd = REGISTRY["substring_dedup"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    sd.explain("formatted")
p = buf.getvalue()
# formatted plans put partition specs in "(n) Exchange / Arguments:" detail
# sections; assert every shuffle keys on the digest h (never doc text)
ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
print("== substring_dedup: exchange_keys:", [a[:44] for a in ex_args[:4]],
      "text_in_exchange_key:", any("text#" in a for a in ex_args))

# knn_graph: vector payloads must be dropped before the rank exchange —
# the window partitions by vec_id and its exchange carries (ids, sim)
kg = REGISTRY["knn_graph"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    kg.explain("formatted")
p = buf.getvalue()
print("== knn_graph: windowed_rank:", "Window" in p,
      "group_limit_pushdown:", "WindowGroupLimit" in p,
      "cartesian:", "CartesianProduct" in p)

# 15. round-8 session-7 plan claims
from fusionspark.queries import REGISTRY as _R

# phrase_search: postings pruned per term BEFORE the join; every join an
# equi hash join on (doc_id, pos); never cartesian
ps = _R["phrase_search"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    ps.explain("formatted")
p = buf.getvalue()
print("== phrase_search: equi_join:", any(k in p for k in
          ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")),
      "cartesian:", "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p,
      "token_filter_before_join:", "isin" in p.lower() or "IN (" in p)

# item_cf: degree table broadcast twice; basket self-join an equi-join on
# the customer key; top-3 via WindowGroupLimit rank pushdown
ic = _R["item_cf"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    ic.explain("formatted")
p = buf.getvalue()
print("== item_cf: broadcasts>=2:", p.count("BroadcastExchange") >= 2,
      "equi_self_join:", any(k in p for k in
          ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")),
      "group_limit_pushdown:", "WindowGroupLimit" in p,
      "cartesian:", "CartesianProduct" in p)

# split_leakage: train shingle vocabulary must broadcast into the probe
# join; no text column in any exchange key (shingles join on the shingle
# string, which is the payload being compared — assert doc text itself
# never shuffles)
sl = _R["split_leakage"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    sl.explain("formatted")
p = buf.getvalue()
ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
print("== split_leakage: broadcasts:", p.count("BroadcastExchange") >= 1,
      "text_in_exchange_key:", any("text#" in a for a in ex_args))

# 16. round-8 session-7 batch-2 plan claims
# neardup_prefix: candidate join keys on the shingle string; all joins
# equi; the verify join carries candidate ids + shingles only, never
# text; r9: the (df, s) composite-key order means NO unpartitioned
# window — the plan must contain no SinglePartition exchange
np_ = _R["neardup_prefix"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    np_.explain("formatted")
p = buf.getvalue()
ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
print("== neardup_prefix: equi_joins:", any(k in p for k in
          ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")),
      "cartesian:", "CartesianProduct" in p,
      "text_in_exchange_key:", any("text#" in a for a in ex_args),
      "group_limit_or_rank:", "Window" in p,
      "single_partition_exchange:", "SinglePartition" in p)

# 17. round-9: lang_id_trained — the weight grid must BROADCAST (hashing
# trick keeps the model O(langs x dims), never vocab-sized); no cartesian
# on corpus frames
lid = _R["lang_id_trained"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    lid.explain("formatted")
p = buf.getvalue()
ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
print("== lang_id_trained: broadcasts:", p.count("BroadcastExchange") >= 2,
      "cartesian:", "CartesianProduct" in p,
      "text_in_exchange_key:", any("text#" in a for a in ex_args))

# r9 second wave: rake (token shuffles only), mmr (TakeOrdered +
# broadcast pair self-join), lang_id_trained covered above
for qn, checks in (
    ("rake_keywords", ("cartesian", "text")),
    ("mmr_rerank", ("cartesian",)),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    print(f"== {qn}: cartesian:", "CartesianProduct" in p,
          "equi_joins:", any(k in p for k in
              ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")),
          "text_in_exchange_key:", any("text#" in a for a in ex_args))

# ── round 10 additions ────────────────────────────────────────────────────
# no cartesian, no text in any exchange
for qn, label in (
    ("entity_resolution", "block equi-join + CC"),
    ("kn_perplexity", "broadcast LM"),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    print(f"== {qn} ({label}): cartesian:", "CartesianProduct" in p,
          "text_in_exchange_key:", any("text#" in a for a in ex_args),
          "payload_in_exchange_key:", any("payload#" in a for a in ex_args),
          "broadcasts:", p.count("BroadcastExchange"))

# ── round 11 additions ────────────────────────────────────────────────────
# cdc_chunking: the chunker is ONE Arrow kernel; hash is the only
# exchange key (text never shuffles).  window_funnel: the 3-type filter
# must PUSH to the scan and the only wide exchange is user_id.
# skipgram_pairs: the per-word threshold join must BROADCAST.
# mann_whitney_u: bounded-frame windows, no cartesian.
# rouge_eval: (doc_id, gram) equi-joins, no doc-pair comparison.
# prf_expansion: feedback side broadcasts; term-keyed candidate join.
for qn, label in (
    ("cdc_chunking", "Arrow chunker + hash dedup"),
    ("window_funnel", "ordered funnel fold"),
    ("skipgram_pairs", "thinned pair self-join"),
    ("mann_whitney_u", "value-grid rank sum"),
    ("rouge_eval", "clipped gram join"),
    ("prf_expansion", "feedback offer weights"),
    ("grpo_advantages", "group standardization"),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    # word-boundary match: a `context#NN` key contains the substring
    # "text#" and false-flags (hit on skipgram_pairs' final groupBy)
    print(f"== {qn} ({label}): cartesian:", "CartesianProduct" in p,
          "text_in_exchange_key:",
          any(_re.search(r"(?<![A-Za-z])text#", a) for a in ex_args),
          "payload_in_exchange_key:", any("payload#" in a for a in ex_args),
          "broadcasts:", p.count("BroadcastExchange"),
          "python_nodes:", len(_re.findall(r"\(\d+\) MapInPandas", p)))

# window_funnel's type filter must reach the parquet scan
q = _R["window_funnel"][0](spark, sf)
buf = _io.StringIO()
with _ctx.redirect_stdout(buf):
    q.explain("formatted")
p = buf.getvalue()
pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", p)
print("== window_funnel pushed IN filter:",
      any("In(event_type" in x for x in pushed))

# ── round-11-continuation operators: same contracts ──────────────────────
# textrank_keywords: 5 vocab-keyed join iterations; word keys are single
#   tokens by design (exempt from the doc-text key rule).
# needleman_wunsch / smith_waterman: nested folds inside ONE row — no
#   pairwise exchange, no cartesian.
# decision_stump: distinct-value grid + cumulative windows; corpus
#   touched by map-side-combined aggregates.
# systematic_sample: one honest ordered window (the documented
#   global-sort cost of ranked designs).
# Round 12 additions:
# rouge_l_eval: LCS DP as ONE zero-shuffle Arrow kernel (python_nodes=1
#   — vectorized DP, the cdc_chunk_hashes class); zero joins, zero
#   exchanges past the scan.
# winnowing_fingerprints: fingerprint-VALUE-keyed candidate join with a
#   df cap — the banded-LSH shape, never all-pairs; text never an
#   exchange key (fingerprints are BIGINTs).
for qn, label in (
    ("rouge_l_eval", "Arrow LCS DP kernel"),
    ("winnowing_fingerprints", "winnowing candidates"),
    ("textrank_keywords", "fixed-point iterations"),
    ("needleman_wunsch", "global alignment"),
    ("smith_waterman", "local alignment"),
    ("hll_daily_union", "register merge"),
    ("linear_shap", "hashed attributions"),
    ("systematic_sample", "PPS grid crossing"),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    print(f"== {qn} ({label}): cartesian:", "CartesianProduct" in p,
          "text_in_exchange_key:",
          any(_re.search(r"(?<![A-Za-z])text#", a) for a in ex_args),
          "payload_in_exchange_key:", any("payload#" in a for a in ex_args),
          "broadcasts:", p.count("BroadcastExchange"),
          "python_nodes:", len(_re.findall(r"\(\d+\) MapInPandas", p)))

# ── round 14 additions: eval_queries ─────────────────────────────────────
# Clustering-validation indices run on the k×|labels| contingency / k-row
# centroid grid after ONE corpus pass (the kmeans assign); classifier
# metrics collapse onto the distinct-score or 10-bin grid; retrieval
# metrics are five top-10 TakeOrdered passes.  silhouette's all-centroid
# frame is the bounded k-fan-out (assign_all), never a self-join.
for qn, label in (
    ("cluster_contingency", "k x labels grid"),
    ("cluster_ari", "pair-count grid"),
    ("cluster_purity", "majority grid"),
    ("fowlkes_mallows", "pair-count grid"),
    ("cluster_nmi", "entropy grid folds"),
    ("cluster_vmeasure", "conditional-entropy folds"),
    ("calinski_harabasz", "centroid grid + 64 global sums"),
    ("davies_bouldin", "k^2 centroid pairs"),
    ("dunn_centroid", "k^2 centroid pairs"),
    ("silhouette_simplified", "k-fan-out distances"),
    ("pr_auc", "score-grid cumulative"),
    ("score_ks", "score-grid integer argmax"),
    ("mcc_binary", "4-integer confusion"),
    ("lift_gains", "ntile_exact decile grid"),
    ("brier_decomposition", "10-bin pivot"),
    ("mrr_multi", "5 x top-10 TakeOrdered"),
    ("map_at10", "5 x in-row rank folds"),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    print(f"== {qn} ({label}): cartesian:", "CartesianProduct" in p,
          "text_in_exchange_key:",
          any(_re.search(r"(?<![A-Za-z])text#", a) for a in ex_args),
          "payload_in_exchange_key:", any("payload#" in a for a in ex_args),
          "broadcasts:", p.count("BroadcastExchange"),
          "python_nodes:", len(_re.findall(r"\(\d+\) MapInPandas", p)))

# ── round 15 additions: the ROC/threshold/calibration eval edge ──────────
# roc_auc / cost_curve / log_loss_grid / calibration_strata checkpoint
# their grid after ONE corpus NB pass (scans in the final plan = 0; the
# pass runs at checkpoint time), roc_points rides ntile_exact's
# materialized grid, ndcg_multi is five top-10 TakeOrdered passes with
# in-row log2 folds.  No cartesians, no python nodes anywhere.
for qn, label in (
    ("roc_auc", "checkpointed score grid, 2U integer sum"),
    ("cost_curve", "checkpointed grid, integer argmin"),
    ("roc_points", "ntile_exact decile cumulatives"),
    ("calibration_strata", "sources x 10 bins grid"),
    ("log_loss_grid", "checkpointed micro-unit grid fold"),
    ("ndcg_multi", "5 x top-10 TakeOrdered + log2 folds"),
):
    qq = _R[qn][0](spark, sf)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        qq.explain("formatted")
    p = buf.getvalue()
    ex_args = _re.findall(r"\(\d+\) Exchange[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", p)
    print(f"== {qn} ({label}): cartesian:", "CartesianProduct" in p,
          "text_in_exchange_key:",
          any(_re.search(r"(?<![A-Za-z])text#", a) for a in ex_args),
          "scans:", p.count("Scan parquet"),
          "broadcasts:", p.count("BroadcastExchange"),
          "python_nodes:", len(_re.findall(r"\(\d+\) MapInPandas", p)))
