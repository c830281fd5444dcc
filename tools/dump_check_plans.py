"""Print the physical plans behind check_data, check_data_by_file and the
ledger on the audio clip table, normalised so two checkouts can be diffed.

    python tools/dump_check_plans.py WORK_DIR > plans.txt

``WORK_DIR`` receives the parquet inputs (rewritten on every run, so two
checkouts given the same directory print the same scan locations).  Every
``collect`` inside the calls is captured with ``explain("formatted")``;
expression ids (``#123``) and exchange plan ids are replaced by ``N``
because they depend on how many the session created before.  A second section does the
same for a TPC-H-shaped table with a reference and a uniqueness rule, which
the audio rules do not have.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import dataverifyr_spark as dv  # noqa: E402
from dataverifyr_spark.audio import audio_ruleset, clips_table, with_audio_features  # noqa: E402
from dataverifyr_spark.ledger import ValidationLedger  # noqa: E402
from dataverifyr_spark.session import build_spark  # noqa: E402


_WORK = ""  # the work directory, printed as $WORK


def _plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = re.sub(r"#\d+", "#N", buf.getvalue().replace(_WORK, "$WORK"))
    return re.sub(r"plan_id=\d+", "plan_id=N", text)


@contextlib.contextmanager
def _captured(out: list[str]):
    from pyspark.sql.classic.dataframe import DataFrame as Classic

    original = Classic.collect

    def collect(self):
        out.append(_plan(self))
        return original(self)

    Classic.collect = collect
    try:
        yield
    finally:
        Classic.collect = original


def _section(title: str, plans: list[str]) -> None:
    for i, p in enumerate(sorted(plans)):  # side jobs finish in any order
        print(f"===== {title} [{i}]\n{p}")


def main(work: str) -> None:
    global _WORK
    _WORK = work
    shutil.rmtree(work, ignore_errors=True)
    spark = build_spark(master="local[2]", shuffle_partitions=4, spark_ui_enabled="false")
    spark.sparkContext.setLogLevel("ERROR")

    clips = f"{work}/clips"
    clips_table(spark, 64).withColumn(
        "bucket", F.crc32("clip_id") % 8
    ).repartition(4).write.parquet(clips)
    df = with_audio_features(spark.read.parquet(clips))
    rules = audio_ruleset()

    plans: list[str] = []
    with _captured(plans):
        dv.check_data(df, rules)
    _section("audio check_data", plans)
    _section("audio check_data_by_file", [_plan(dv.check_data_by_file(df, rules))])
    plans = []
    with _captured(plans):
        ValidationLedger(spark, f"{work}/ledger").run(df, rules, "bucket", run_id="p")
    _section("audio ledger", plans)

    orders = f"{work}/orders"
    lines = f"{work}/lines"
    spark.range(200).select(F.col("id").alias("o_orderkey")).write.parquet(orders)
    spark.range(1000).select(
        (F.col("id") % 250).alias("l_orderkey"),
        (F.col("id") % 7).alias("l_linenumber"),
        (F.col("id") % 3).alias("l_returnflag"),
        (F.col("id") % 50).cast("double").alias("l_quantity"),
    ).write.parquet(lines)
    li = spark.read.parquet(lines)
    refs = {"orders": spark.read.parquet(orders)}
    table_rules = dv.ruleset(
        dv.rule("l_quantity > 0", name="q"),
        dv.reference_rule("l_orderkey", "orders", "o_orderkey", name="fk"),
        dv.unique_rule("l_orderkey", "l_linenumber", name="pk"),
    )
    plans = []
    with _captured(plans):
        dv.check_data({"lines": li, **refs}, table_rules)
    _section("table check_data", plans)
    _section(
        "table check_data_by_file",
        [_plan(dv.check_data_by_file(li, table_rules, datasets=refs))],
    )
    spark.stop()


if __name__ == "__main__":
    main(os.path.abspath(sys.argv[1]))
