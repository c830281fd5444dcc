"""A rule's tests/pass/fail must not depend on the API path that computed it.

``check_data``, ``check_data_by`` (summed over groups), ``check_data_by_file``
(summed over files), the ledger's ``totals()`` and — for expression rules —
``check_stream`` (summed over windows) all run the same rule-evaluation
core, so they must agree on every rule, error rows included.
"""

import datetime as dt
import os

import pytest

import dataverifyr_spark as dv
from dataverifyr_spark.ledger import ValidationLedger
from dataverifyr_spark.streaming import check_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the TPC-H-shaped fixtures sit next to the checkout
SF0001 = os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")

# one ruleset covering every rule kind and flag, plus error rules of each
# kind: a missing column, an unknown function, a missing lookup dataset and
# a uniqueness key that does not exist
RULES = dv.ruleset(
    dv.rule("x > 1", name="plain"),
    dv.rule("x > 5", name="negated", negate=True),
    dv.rule("x < 8", name="na_ok", allow_na=True),
    dv.rule("s %in% c('p', 'q')", name="member"),
    dv.rule("nope > 1", name="missing_col"),
    dv.rule("no_such_fn(x) > 0", name="bad_call"),
    dv.reference_rule("cust", "customers", "cid", name="fk"),
    dv.reference_rule("cust", "absent", "cid", name="fk_absent"),
    dv.unique_rule("k", name="pk"),
    dv.unique_rule("nope", name="pk_missing"),
)
EXPR_NAMES = {"plain", "negated", "na_ok", "member", "missing_col", "bad_call"}


def _row(i: int):
    g = "abc"[i // 10]
    x = None if i % 6 == 0 else float(i % 11)
    s = None if i % 7 == 0 else "pqr"[i % 3]
    cust = None if i % 9 == 0 else i % 5
    # duplicate keys stay inside one group (uniqueness is judged per
    # group, so only then do the group sums equal the global count);
    # the NULL keys all sit in group c for the same reason
    k = None if i in (26, 27) else (i + 1 if i % 4 == 0 else i)
    ts = dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i)
    return (i, g, x, s, cust, k, ts)


SCHEMA = "id int, g string, x double, s string, cust int, k int, ts timestamp"


@pytest.fixture(scope="module")
def frame(spark, tmp_path_factory):
    """30 rows in 3 parquet files, one file per group ``g``."""
    path = str(tmp_path_factory.mktemp("parity") / "data")
    for g in range(3):
        rows = [_row(i) for i in range(g * 10, g * 10 + 10)]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 3
    refs = {"customers": spark.createDataFrame([(1,), (2,), (3,)], "cid int")}
    return df, refs


def _totals(rows, key="name"):
    out: dict[str, list[int]] = {}
    for r in rows:
        t = out.setdefault(r[key], [0, 0, 0])
        t[0] += r["tests"]
        t[1] += r["pass"]
        t[2] += r["fail"]
    return {k: tuple(v) for k, v in out.items()}


class TestApiParity:
    def test_every_path_agrees_with_check_data(self, spark, frame, tmp_path):
        df, refs = frame
        summary = dv.check_data({"main": df, **refs}, RULES).collect()
        expected = {r["name"]: (r["tests"], r["pass"], r["fail"]) for r in summary}
        assert set(expected) == {r.name for r in RULES}
        errors = {r["name"] for r in summary if r["error"]}
        assert errors == {"missing_col", "bad_call", "fk_absent", "pk_missing"}
        for name in errors:
            assert expected[name] == (30, 0, 30), name
        # the fixture exercises NULLs and real failures on every valid rule
        assert all(0 < expected[n][1] < 30 for n in set(expected) - errors), expected

        by_group = dv.check_data_by(df, RULES, by="g", datasets=refs).collect()
        assert _totals(by_group) == expected
        assert len(by_group) == 3 * len(RULES)  # error rows in every group

        by_file = dv.check_data_by_file(df, RULES, datasets=refs).collect()
        assert _totals(by_file) == expected
        assert len({r["file"] for r in by_file}) == 3

        ledger = ValidationLedger(spark, str(tmp_path / "ledger"))
        ledger.run(df, RULES, "g", run_id="parity", datasets=refs)
        assert _totals(ledger.totals("parity").collect()) == expected

        expr_rules = dv.ruleset(*[r for r in RULES if r.name in EXPR_NAMES])
        windows = check_stream(df, expr_rules, "ts", window="7 minutes").collect()
        assert len({r["window_start"] for r in windows}) > 1
        assert _totals(windows) == {n: expected[n] for n in EXPR_NAMES}

    def test_streaming_entry_points_reject_uniqueness_rule(self, spark):
        """Every streaming validator shares one rule split, so a uniqueness
        rule fails with the same ValueError on each of them."""
        from dataverifyr_spark.streaming import (
            check_stream_cumulative,
            validate_stream_windowed_to_sink,
        )

        sdf = spark.readStream.format("rate").load()
        rs = dv.ruleset(dv.unique_rule("value", name="pk"))
        messages = []
        for call in (
            lambda: check_stream(sdf, rs, "timestamp"),
            lambda: check_stream_cumulative(sdf, rs, by="value"),
            lambda: validate_stream_windowed_to_sink(sdf, rs, "timestamp", "s", "c"),
        ):
            with pytest.raises(ValueError, match="aggregation rules") as exc:
                call()
            messages.append(str(exc.value))
        assert len(set(messages)) == 1


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="sf0.001 fixtures not present")
class TestValidateJobReferenceLedger:
    def test_ref_part_col_by_file_ledger_matches_summary(self, spark, tmp_path):
        """``validate_job --ref … --part-col …`` hands the lookup tables to
        the ledger: the job completes and the ledger totals equal the
        summary for every rule, the reference rule included."""
        import sys

        sys.path.insert(0, os.path.join(REPO, "jobs"))
        from validate_job import main

        rules_yaml = str(tmp_path / "rules.yaml")
        dv.write_rules(
            dv.ruleset(
                dv.rule("l_quantity > 0 & l_quantity <= 30", name="qty"),
                dv.rule("l_extendedprice > 1000", name="price", allow_na=True),
                dv.reference_rule("l_orderkey", "orders", "o_orderkey", name="fk_orders"),
                # the key includes the partition column: a duplicate that
                # spans two partitions is not one within either, so only a
                # partition-aligned key can total to the global count
                dv.unique_rule("l_returnflag", "l_orderkey", "l_linenumber", name="pk_line"),
            ),
            rules_yaml,
        )
        out = str(tmp_path / "out")
        rc = main([
            "--input", os.path.join(SF0001, "lineitem.parquet"),
            "--rules", rules_yaml,
            "--out", out,
            "--run-id", "ref-ledger",
            "--by-file",
            "--ref", f"orders={os.path.join(SF0001, 'orders.parquet')}",
            "--part-col", "l_returnflag",
        ])
        assert rc == 0
        summary = spark.read.parquet(f"{out}/summary").collect()
        expected = {r["name"]: (r["tests"], r["pass"], r["fail"]) for r in summary}
        assert set(expected) == {"qty", "price", "fk_orders", "pk_line"}
        assert not any(r["error"] for r in summary)
        ledger = ValidationLedger(spark, f"{out}/ledger").totals("ref-ledger").collect()
        assert _totals(ledger) == expected
        by_file = spark.read.parquet(f"{out}/summary_by_file").collect()
        assert _totals(by_file) == expected
