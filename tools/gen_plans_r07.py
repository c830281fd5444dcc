"""Emit plans/r07/<query>_{before,after}.txt — `.explain("formatted")` for
every query path touched in the r7 optimization round.

Usage:
    python tools/gen_plans_r07.py before /tmp/r6tree   # round-start library
    python tools/gen_plans_r07.py after  /root/repo    # optimized library

The same capture code runs against both trees (version-sniffing the two
internals whose shape changed), so each before/after pair differs only by
the library under test.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

MODE = sys.argv[1] if len(sys.argv) > 1 else "after"
LIB = sys.argv[2] if len(sys.argv) > 2 else "/root/repo"
assert MODE in ("before", "after")
sys.path.insert(0, LIB)

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")
os.makedirs(OUT_DIR, exist_ok=True)

from pyspark.sql import functions as F  # noqa: E402

from dataverifyr_spark.session import build_spark  # noqa: E402

spark = build_spark(master="local[8]", shuffle_partitions=8, spark_ui_enabled="false")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.01"
li = spark.read.parquet(f"{SF}/lineitem.parquet")
cust = spark.read.parquet(f"{SF}/customer.parquet")
ords = spark.read.parquet(f"{SF}/orders.parquet")
docs = spark.read.parquet(f"{SF}/documents.parquet")


def cap(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def emit(name: str, header: str, text: str) -> None:
    path = os.path.join(OUT_DIR, f"{name}_{MODE}.txt")
    with open(path, "w") as f:
        f.write(f"# {name} ({MODE}) — {header}\n\n{text}")
    print(f"wrote {path}")


# -- 1/2. minhash signatures + LSH candidate pairs ---------------------------
from dataverifyr_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures  # noqa: E402

sigs = minhash_signatures(docs, num_hashes=32)
emit(
    "minhash_signatures",
    "explode shingles -> groupBy(id) with 32 min-hash aggregates",
    cap(sigs),
)
pairs = lsh_candidate_pairs(minhash_signatures(docs, num_hashes=32), num_bands=8)
emit(
    "dedup_minhash_lsh_pairs",
    "banding + bucket-size cap + self-join + distinct (count the Scan/Generate"
    " subtrees: r6 evaluates the full signature pipeline once per consumer,"
    " r7 reads one checkpointed band table)",
    cap(pairs),
)

# -- 3. connected-components per-round message join --------------------------
# representative reconstruction of the round loop's join, mirroring
# operators/components.py line for line (the loop itself is eager, so the
# in-loop frame cannot be explained without running the rounds)
# bench-scale edge list (~1M rows, like the skewed-dedup graph): at toy
# sizes AQE broadcasts the EDGES and both versions degenerate to the same
# plan, hiding the per-round difference that matters
edges = spark.range(1_000_000).select(
    (F.col("id") % 20_000).alias("id_a"), ((F.col("id") * 7 + 3) % 20_000).alias("id_b")
)
fwd = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
both = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().cache()
if MODE == "before":
    labels = both.select("u").distinct().withColumn("label", F.col("u")).localCheckpoint()
    msgs = both.join(labels, "u").select(F.col("v").alias("u"), "label")
else:
    labels = (
        both.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("label")).localCheckpoint()
    )
    msgs = both.join(F.broadcast(labels), "u").select(F.col("v").alias("u"), "label")
emit(
    "cc_round_message_join",
    "one label-propagation round's message join.  Both versions show"
    " BroadcastHashJoin here: Spark 4 preserves size statistics through"
    " localCheckpoint, so sub-10MB label tables auto-broadcast already —"
    " the r7 explicit hint matters for label tables past the 10MB estimate"
    " (deterministic broadcast up to broadcast_labels_max instead of an"
    " estimate-driven sort-merge of the edge list).  The r7 plan's OTHER"
    " difference is upstream: labels come from the fused"
    " groupBy(u).agg(least(u, min(v))) init (no distinct scan, one fewer"
    " round)",
    cap(msgs),
)
both.unpersist()

# -- 4. reference-rule membership count --------------------------------------
import dataverifyr_spark as dv  # noqa: E402
from dataverifyr_spark import check as _check  # noqa: E402

r = dv.reference_rule("o_custkey", "customer", "c_custkey")
if hasattr(_check, "_evaluate"):  # one rule-evaluation core: the rule's own plan
    agg = _check._evaluate(ords, dv.ruleset(r), datasets={"customer": cust}).side[0][1]
elif len(res := _check._reference_ok_column(ords, r, {"customer": cust})) == 3:
    # r7 returns (joined, ok, count-alias)
    joined, ok, cnt = res
    agg = joined.agg(F.sum(F.when(ok, F.col(cnt)).otherwise(F.lit(0))).alias("p"))
else:  # r6 returned (joined, ok) over row-level rows
    joined, ok = res
    agg = joined.agg(F.sum(F.when(ok, F.lit(1)).otherwise(F.lit(0))).alias("p"))
emit(
    "reference_fk_count",
    "FK membership pass-count (r6: every orders ROW enters the join; r7: the"
    " local side pre-aggregates to (value, count) so the join carries one row"
    " per distinct FK value and a hyper-hot key collapses map-side)",
    cap(agg),
)

# -- 5/6. approx describe ----------------------------------------------------
import importlib  # noqa: E402

# dataverifyr_spark.__init__ re-exports describe() the FUNCTION under the
# same attribute name, so a plain `import dataverifyr_spark.describe as`
# resolves to the function — load the module explicitly
dmod = importlib.import_module("dataverifyr_spark.describe")  # noqa: E402

li16 = li  # 16 columns
fields = list(li16.schema.fields)
if hasattr(dmod, "_approx_agg_split"):  # r7 split
    decl, sketch = dmod._approx_agg_split(fields)
    d = li16.agg(*decl).crossJoin(li16.agg(*sketch))
else:  # r6 single fused agg
    d = li16.agg(*dmod._stat_aggs(fields, False, True))
emit(
    "describe_lineitem_approx",
    "the approx profile's aggregate (r6: ONE ObjectHashAggregate carries all"
    " ~130 buffer updates interpreted; r7: declarative stats in a codegen"
    " HashAggregate + a narrow sketch-only ObjectHashAggregate, two"
    " independent subtrees of one job)",
    cap(d),
)
emit(
    "describe_by_returnflag",
    "grouped approx profile (same split per group in r7, joined 1:1 on the"
    " null-safe group key)",
    cap(dmod.describe_by(li16, by="l_returnflag", approx=True)),
)

# -- 7. salted distinct count ------------------------------------------------
from dataverifyr_spark.operators import uniqueness as umod  # noqa: E402

src = umod.distinct_count_salted.__wrapped__ if hasattr(umod.distinct_count_salted, "__wrapped__") else None
# rebuild the counted frame exactly as distinct_count_salted does (the
# function itself is eager)
cols = ["l_orderkey", "l_linenumber"]
if "__key" in open(os.path.join(LIB, "dataverifyr_spark/operators/uniqueness.py")).read():
    key = F.struct(*[F.col(c) for c in cols])
    salted = li.select(
        F.pmod(F.xxhash64(*cols), F.lit(64)).alias("__salt"), key.alias("__key")
    )
    deduped = salted.groupBy("__salt", "__key").agg(F.lit(1))
else:
    salted = li.select(
        F.pmod(F.xxhash64(*cols), F.lit(64)).alias("__salt"),
        *[F.col(c) for c in cols],
    )
    deduped = salted.groupBy("__salt", *cols).agg(F.lit(1))
emit(
    "uniqueness_salted_distinct",
    "salted two-phase distinct (r6 wrapped the key in a per-row struct; r7"
    " groups on the columns directly — same NULL semantics, no struct alloc)",
    cap(deduped),
)

# -- 7b. winnowing copied-passage pairs --------------------------------------
from dataverifyr_spark.operators.text import shared_passage_pairs  # noqa: E402

sp = shared_passage_pairs(docs, k=5, window=4, min_shared=2)
emit(
    "shared_passage_pairs",
    "winnowing fingerprint self-join (r6: the fp frame — and with it the raw"
    " TEXT scan — re-planned per consumer, up to 3x; r7: one checkpointed"
    " (id, fp) frame feeds the cap and both join sides — count the"
    " split(regexp_replace(...)) occurrences: >0 before, 0 after)",
    cap(sp),
)

# -- 8. audio validate (plan-shape invariant) --------------------------------
from dataverifyr_spark.audio import audio_ruleset, clips_table, with_audio_features  # noqa: E402

clips = clips_table(spark, 200)
feats = with_audio_features(clips)
compiled = dv.check_data  # noqa: F841  (the fused agg is built inside check_data)
from dataverifyr_spark.check import compile_rule_predicate  # noqa: E402

aggs = [F.count(F.lit(1)).alias("tests")]
for i, rr in enumerate(audio_ruleset()):
    aggs.append(F.sum(F.when(compile_rule_predicate(rr).column, 1).otherwise(0)).alias(f"p{i}"))
plan = cap(feats.agg(*aggs))
n_arrow = plan.count("ArrowEvalPython")
emit(
    "audio_validate_clips",
    f"fused 6-rule audio check — plan shape unchanged in r7 (ArrowEvalPython"
    f" nodes: {n_arrow}; the r7 change is INSIDE the probe UDF: block"
    f" angle-addition waveform regen + PCG64 noise + single-pass int16"
    f" normalization)",
    plan,
)

spark.stop()
print("done", MODE)
