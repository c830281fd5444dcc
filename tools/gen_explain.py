"""Regenerate EXPLAIN.md: physical-plan snapshots of the engine's operators.

    python tools/gen_explain.py [SF_DIR]

SF_DIR holds the TPC-H-shaped parquet fixtures (default: ``testdata/sf0.01``
next to the checkout).  The check, reference and uniqueness sections are
built by the rule-evaluation core itself (``check._evaluate``), so they show
the plans the engine runs.  The "(r6 ...)" sections at the end of EXPLAIN.md
are not built here: the file is rewritten without them, so splice them back
when regenerating.
"""
import sys, io, contextlib, os
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import functions as F
from dataverifyr_spark.session import build_spark
import dataverifyr_spark as dv
from dataverifyr_spark.check import _evaluate
from dataverifyr_spark.operators.similarity import brute_force_topk

spark = build_spark(master="local[8]", shuffle_partitions=8, spark_ui_enabled="false")
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(REPO), "testdata", "sf0.01")
li = spark.read.parquet(f"{sf}/lineitem.parquet")
cust = spark.read.parquet(f"{sf}/customer.parquet")
ords = spark.read.parquet(f"{sf}/orders.parquet")
emb = spark.read.parquet(f"{sf}/embeddings.parquet")

def cap(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

rules = dv.ruleset(
    dv.rule("l_quantity > 0 & l_quantity <= 30"),
    dv.rule("l_returnflag %in% c('A','N')"),
    dv.rule("l_extendedprice > 1000", allow_na=True),
)
sections = []
sections.append(("Fused 3-rule check (one scan, pruned ReadSchema, partial aggregation)", cap(_evaluate(li, rules).main)))

viol = dv.filter_fails(rules, li, tag=True)
sections.append(("Tagged violations (single scan, array+explode, no per-rule scans)", cap(viol)))

fk = dv.ruleset(dv.reference_rule("o_custkey", "customer", "c_custkey"))
_, refagg, _ = _evaluate(ords, fk, datasets={"customer": cust}).side[0]
sections.append(("Reference-rule membership count (key-only (value, count) pre-aggregate before the join; AQE broadcast)", cap(refagg)))

qvec=[float(v) for v in emb.select("embedding").head()[0]]
sections.append(("Cosine top-k (TakeOrderedAndProject - per-partition top-k merge, no sort shuffle)", cap(brute_force_topk(emb, qvec, 10))))

# round 2: banded-LSH near-dup pairs — must be equi-joins only, no
# BroadcastNestedLoopJoin / CartesianProduct anywhere
from dataverifyr_spark.operators.similarity import embedding_near_dup_pairs
emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
pairs = embedding_near_dup_pairs(emb_d, dim=64, threshold=0.99, bits=16, bands=2, vec_col="v")
pp = cap(pairs)
assert "BroadcastNestedLoopJoin" not in pp and "CartesianProduct" not in pp
# keep the tree only: the detail section inlines 2x16x64 hyperplane literals
pp_tree = pp.split("\n\n(1)")[0] + (
    "\n\n[node details elided: the projection inlines the band hyperplane "
    "literals; asserted free of BroadcastNestedLoopJoin/CartesianProduct]\n"
)
sections.append(("Banded-LSH embedding near-dup pairs (equi-joins only; NO nested-loop/cartesian)", pp_tree))

# round 2: audio dialect auto-fuse — 5 bytes-family rules, ONE ArrowEvalPython
from dataverifyr_spark.audio import clips_table
clips = clips_table(spark, 50)
audio_rules = dv.ruleset(
    dv.rule("audio_valid(bytes)"),
    dv.rule("audio_sr(bytes) == sr_hz"),
    dv.rule("abs(audio_dur_ms(bytes) - dur_ms) <= 2"),
    dv.rule("audio_rms(bytes) > 0.001", allow_na=True),
    dv.rule("audio_n_samples(bytes) > 0"),
)
aplan = cap(_evaluate(clips, audio_rules).main)
assert aplan.count("ArrowEvalPython") == 2  # tree + detail of ONE node
sections.append(("Audio dialect 5-rule fused check (ONE shared decode probe -> one ArrowEvalPython)", aplan))

# round 2: single-pass simhash (one aggregate fold, no per-bit traversals)
from dataverifyr_spark.operators.dedup import simhash
docs = spark.read.parquet(f"{sf}/documents.parquet")
sections.append(("SimHash single-pass vote fold (one projection, no shuffle)", cap(simhash(docs).select("doc_id","simhash"))))

# round 3: production-dim LSH codes switch to the broadcast-numpy Arrow UDF —
# the plane tensor must NOT appear as plan literals (bounded analysis time)
from dataverifyr_spark.operators.similarity import _lsh_codes
import time as _time
wide = emb.select("vec_id", F.transform(F.sequence(F.lit(0), F.lit(767)),
                                        lambda i: i.cast("double") / 768.0).alias("v"))
t0 = _time.perf_counter()
codes = wide.select("vec_id", _lsh_codes("v", wide, 768, 32, [42, 7961, 15880, 23799]).alias("codes"))
cplan = cap(codes)
analysis_s = _time.perf_counter() - t0
assert "ArrowEvalPython" in cplan, cplan
sections.append((
    f"Production-dim LSH codes (dim=768, bits=32, bands=4): broadcast-numpy Arrow UDF, plan+analysis in {analysis_s:.2f}s (literal path measured ~54s in this regime)",
    cplan,
))

# round 3: vs-reference audio — join + ONE dual-decode ArrowEvalPython; the
# expected payload joins by clip_id (broadcast here; bucket both sides at scale)
from dataverifyr_spark.audio import audio_ruleset, expected_table, with_audio_features_vs
exp = expected_table(spark, 50)
feats = with_audio_features_vs(clips, exp, broadcast_expected=True)
vplan = cap(_evaluate(feats, audio_ruleset()).main)
assert vplan.count("ArrowEvalPython") == 2  # tree + detail of ONE node
assert "BroadcastNestedLoopJoin" not in vplan, vplan
assert "BroadcastHashJoin" in vplan, vplan
sections.append(("Vs-reference audio (broadcast clip_id join -> ONE dual-decode ArrowEvalPython -> fused agg)", vplan))

# round 4: describe_by — ONE grouped aggregate + in-plan explode unpivot; a
# K-group profile must not plan K jobs or a driver loop
prof = dv.describe_by(li.select("l_returnflag", "l_quantity", "l_tax"), by="l_returnflag")
dplan = cap(prof)
assert "HashAggregate" in dplan and "Generate" in dplan, dplan
sections.append(("describe_by per-partition profile (one groupBy agg, explode unpivot in-plan — no per-group jobs)", dplan))

# round 4: H.264 container probe — one ArrowEvalPython (header walk), fused agg
from dataverifyr_spark.operators.h264 import h264_videos_table
from dataverifyr_spark.operators.image import video_probe
h264 = h264_videos_table(spark, 50)
h264_rules = dv.ruleset(dv.rule("vid_valid"), dv.rule("vid_n_idr >= 2", allow_na=True))
hplan = cap(_evaluate(video_probe(h264), h264_rules).main)
assert hplan.count("MapInPandas") == 2  # tree + detail of ONE Arrow-batched node
sections.append(("H.264 container-probe fused check (one NAL-walk MapInPandas, zero pixel decode)", hplan))

# round 4: PQ ADC scan — m element_at lookups into ONE literal LUT, ranked by
# TakeOrderedAndProject; no vector column read, no shuffle of payloads
from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode
pq_books = [[[float((i*7+j*3+s) % 5 - 2) for s in range(8)] for i in range(16)] for j in range(8)]
pq_enc = pq_encode(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")), pq_books)
pq_plan = cap(pq_adc_topk(pq_enc, pq_books, [0.1]*64, k=10))
assert "TakeOrderedAndProject" in pq_plan, pq_plan
pq_tree = pq_plan.split("\n\n(1)")[0] + (
    "\n\n[node details elided: the projection inlines the 8x16 ADC lookup "
    "table and per-subspace codebook literals; asserted TakeOrderedAndProject]\n"
)
sections.append(("PQ ADC top-k (codes + literal LUT only — no vector math in the scan, per-partition top-k merge)", pq_tree))

# ---- round 5 additions ----

# keyed most_frequent: stats agg + WindowGroupLimit top-k side broadcast-joined
mf = dv.describe_by(cust.select("c_mktsegment","c_nationkey"), by="c_mktsegment", approx=True, top_n=3)
mfplan = cap(mf)
assert "WindowGroupLimit" in mfplan and "Expand" not in mfplan, mfplan
sections.append(("describe_by keyed most_frequent (approx: no Expand; WindowGroupLimit pre-limits top-n before the shuffle; tiny mf side broadcast-joins)", mfplan))

# uniqueness (PK) rule: key-only projection -> two-level hash aggregate
_, uniq_plan, _ = _evaluate(li, dv.ruleset(dv.unique_rule("l_orderkey"))).side[0]
uplan = cap(uniq_plan)
assert "ReadSchema: struct<l_orderkey" in uplan, uplan  # payload pruned to the key
sections.append(("Uniqueness (PK) rule (key-only ReadSchema; partial-agg groupBy count -> single-row reduce)", uplan))

# BPE token count: pure Catalyst (no Python node), whole-stage codegen
from dataverifyr_spark.operators.text import bpe_token_count
docs = spark.read.parquet(f"{sf}/documents.parquet")
bplan = cap(docs.select(bpe_token_count(F.col("text"), [("e","r"),("i","n"),("s","t")]).alias("n_bpe")))
assert "Python" not in bplan, bplan  # HOF aggregate/transform: JVM eval, outside codegen
sections.append(("BPE token count (chained literal replaces inside a JVM higher-order fold — zero Python in the row path)", bplan))

# batch IVF searcher: probe-list explode on the broadcast query side, equi-join
from dataverifyr_spark.operators.ivf import ivf_index
from dataverifyr_spark.operators.recall import ivf_topk_join
emb_d2 = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
cents = [[float((i*5+s) % 7 - 3) for s in range(64)] for i in range(8)]
queries = emb_d2.limit(3).withColumnRenamed("vec_id","query_id")
iplan = cap(ivf_topk_join(ivf_index(emb_d2, cents), cents, queries, k=5, nprobe=2))
assert "BroadcastHashJoin" in iplan and "CartesianProduct" not in iplan, iplan
itree = iplan.split("\n\n(1)")[0] + (
    "\n\n[node details elided: centroid literals inline in the probe-list "
    "array_sort; asserted BroadcastHashJoin on cluster, no cartesian]\n"
)
sections.append(("Batch IVF top-k join (probe clusters exploded on the broadcast query side; cluster equi-join, no cartesian)", itree))

# chunking: narrow projection only — no shuffle, no Python
from dataverifyr_spark.operators.chunks import chunk_documents
cplan = cap(chunk_documents(docs, chunk_tokens=8))
assert "Exchange" not in cplan and "Python" not in cplan, cplan
sections.append(("Document chunking (sequence/slice explode — scan-speed, zero shuffle, zero Python)", cplan))

# vector dialect rule inside the fused check scan: one agg, no Python
vplan2 = cap(_evaluate(emb, dv.ruleset(dv.rule("vec_dim(embedding) == 64 & vec_norm(embedding) > 0.001"))).main)
assert "Python" not in vplan2, vplan2
sections.append(("Vector (embedding) dialect rule in the fused agg (aggregate/exists folds — JVM-side, single scan)", vplan2))

with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
    f.write("# EXPLAIN — physical plan snapshots (generated from sf0.01, `tools/gen_explain.py`)\n\n")
    f.write("Evidence that each operator compiles to the intended plan shape; regenerate\nwith `python tools/gen_explain.py`.\n")
    for title, plan in sections:
        f.write(f"\n## {title}\n\n```\n{plan}\n```\n")
print("written")
