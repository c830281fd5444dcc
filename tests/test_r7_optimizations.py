"""Focused regression tests for the r7 optimization round's internal changes
(+ the r6 ADVICE correctness fixes applied alongside).

Each test pins the CONTRACT the optimization must preserve, not the
implementation: banded-LSH single-materialization, CC fused-init round
semantics on empty input, reference pre-aggregation count equivalence under
every flag combination, the approx-describe declarative/sketch split's value
parity, and the two new guard paths."""

import pytest
from pyspark.sql import functions as F

import dataverifyr_spark as dv


class TestLshMaterialization:
    def test_pairs_plan_reads_checkpointed_bands(self, spark):
        """lsh_candidate_pairs materializes the banded proxy once: the pair
        plan must reference a checkpoint scan (ExistingRDD) and must NOT
        re-plan the text scan per consumer (the r6 plan carried the full
        signature pipeline 4x — zero exchange reuse under lambda HOFs)."""
        from dataverifyr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
            "doc_id bigint, text string",
        )
        pairs = lsh_candidate_pairs(minhash_signatures(docs, num_hashes=16), num_bands=8)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        # the raw text column must not appear in the pair plan at all — only
        # the checkpointed (id, band, bucket) rows do
        assert "split(regexp_replace" not in plan

    def test_shared_passage_pairs_single_text_scan(self, spark):
        """Same contract for the winnowing pair join (r6 VERDICT #4): the
        text scan happens once (checkpoint), not once per join side."""
        from dataverifyr_spark.operators.text import shared_passage_pairs

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),
                (3, "z y x w v u t s r q"),
            ],
            "doc_id bigint, text string",
        )
        pairs = shared_passage_pairs(docs, k=3, window=2, min_shared=1)
        rows = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (1, 2) in rows and (1, 3) not in rows
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert "split(regexp_replace" not in plan


class TestConnectedComponentsR7:
    def test_empty_edges_rounds_semantics(self, spark):
        """Fused init must keep the r6 empty-input contract: one round,
        converged, empty labeling."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
        stats = {}
        out = connected_components(edges, stats=stats)
        assert out.count() == 0
        assert stats == {"rounds": 1, "converged": True}

    def test_single_edge_two_rounds(self, spark):
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
        stats = {}
        comps = {
            r["node"]: r["component"]
            for r in connected_components(edges, stats=stats).collect()
        }
        assert comps == {1: 1, 2: 1}
        assert stats == {"rounds": 2, "converged": True}

    def test_broadcast_threshold_zero_matches_broadcast_path(self, spark):
        """broadcast_labels_max=0 (forced shuffle join) must produce the
        identical labeling — the hint is a physical choice only."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 12)], "id_a bigint, id_b bigint"
        )
        a = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        b = {
            r["node"]: r["component"]
            for r in connected_components(edges, broadcast_labels_max=0).collect()
        }
        assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 12}


class TestReferencePreAggregation:
    """The r7 pre-aggregated membership join must count exactly like the r6
    row-level join under every flag combination, including NULL locals and
    duplicate values."""

    @pytest.fixture()
    def data(self, spark):
        local = spark.createDataFrame(
            [(1,), (1,), (2,), (None,), (None,), (7,)], "k int"
        )
        ref = spark.createDataFrame([(1,), (5,)], "k int")
        return local, ref

    @pytest.mark.parametrize(
        "allow_na,negate,expected_pass",
        [
            # hits: two 1s. NULL local is never a hit (R %in% semantics).
            (False, False, 2),
            # allow_na rescues the two NULLs
            (True, False, 4),
            # negate: non-hits pass = 2 (value 2, 7) + 2 NULLs = 4
            (False, True, 4),
            # rescue FIRST then negate: ok = hit|isnull -> negate -> pass = 2
            (True, True, 2),
        ],
    )
    def test_flag_algebra_counts(self, spark, data, allow_na, negate, expected_pass):
        local, ref = data
        rs = dv.ruleset(
            dv.reference_rule("k", "ref", "k", allow_na=allow_na, negate=negate)
        )
        rows = dv.check_data({"local": local, "ref": ref}, rs).collect()
        r = rows[0]
        assert r["tests"] == 6
        assert r["pass"] == expected_pass, (allow_na, negate, r)

    def test_check_data_by_grouped_counts(self, spark, data):
        local, ref = data
        g = local.withColumn("grp", F.when(F.col("k").isNotNull(), F.col("k") % 2).otherwise(F.lit(9)))
        from dataverifyr_spark.check import check_data_by

        out = check_data_by(
            g,
            dv.ruleset(dv.reference_rule("k", "ref", "k")),
            by="grp",
            datasets={"ref": ref},
        ).collect()
        got = {r["grp"]: (r["tests"], r["pass"]) for r in out}
        # grp 1: two 1s (hits) + value 7 (miss); grp 0: value 2; grp 9: NULLs
        assert got == {1: (3, 2), 0: (1, 0), 9: (2, 0)}


class TestDescribeSplitParity:
    def test_approx_declarative_stats_equal_exact(self, spark):
        """The split must keep every declarative statistic bit-equal to the
        exact path, and n_distinct's NA-as-distinct uplift must survive the
        derived (na>0) anynull."""
        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "b"), (None, "b"), (4.0, None)], "x double, s string"
        )
        exact = {r["var"]: r for r in dv.describe(df, top_n=0).collect()}
        approx = {r["var"]: r for r in dv.describe(df, top_n=0, approx=True).collect()}
        for var in ("x", "s"):
            for fld in ("n", "n_na", "min", "mean", "max", "sd"):
                assert approx[var][fld] == exact[var][fld], (var, fld)
        # x: 3 distinct non-null + 1 NULL => 4 (NA counts as distinct)
        assert approx["x"]["n_distinct"] == exact["x"]["n_distinct"] == 4
        assert approx["s"]["n_distinct"] == exact["s"]["n_distinct"] == 3

    def test_describe_by_split_group_parity(self, spark):
        df = spark.createDataFrame(
            [("g1", 1.0), ("g1", 3.0), ("g2", None), (None, 5.0)], "g string, x double"
        )
        rows = dv.describe_by(df, by="g", approx=True).collect()
        got = {r["g"]: r for r in rows}
        # NULL group keys must survive the null-safe split join
        assert set(got) == {"g1", "g2", None}
        assert got["g1"]["n"] == 2 and got["g1"]["mean"] == 2.0
        assert got["g2"]["n_na"] == 1 and got["g2"]["n_distinct"] == 1  # NA only
        assert got[None]["min"] == 5.0


class TestAdviceGuards:
    def test_violation_examples_rejects_column_collision(self, spark):
        df = spark.createDataFrame([(0, 1)], "v int, example_rank int")
        with pytest.raises(ValueError, match="example_rank"):
            dv.violation_examples(dv.ruleset(dv.rule("v > 0")), df)

    def test_curate_rejects_falsy_invalid_dedup_mode(self, spark):
        from dataverifyr_spark.audio import clips_table, curate_clips

        clips = clips_table(spark, 8)
        for bad in ("", 0, 1, "fuzzy"):
            with pytest.raises(ValueError, match="dedup_captions"):
                curate_clips(clips, dedup_captions=bad)

    def test_run_incremental_uses_guarded_stamp(self, tmp_path, spark):
        """run_incremental must route through stamp_file_col (raising on a
        file_col collision like every *_by_file path) instead of a bare
        input_file_name() withColumn."""
        from dataverifyr_spark.ledger import ValidationLedger

        src = str(tmp_path / "src")
        spark.range(10).withColumn("v", F.lit(1)).write.parquet(src)
        df = spark.read.parquet(src)
        led = ValidationLedger(spark, str(tmp_path / "ledger"))
        with pytest.raises(ValueError, match="collides"):
            led.run_incremental(df, dv.ruleset(dv.rule("v > 0")), run_id="r", file_col="v")


class TestSessionHeapPretouch:
    """r7: sized-heap sessions must pin and pre-touch the heap (-Xms = the
    driver memory, AlwaysPreTouch) so G1 never uncommits between queries —
    on lazily-backed VM memory a re-faulting heap turned 1 s scans into
    8-24 s (measured).  Caller-supplied options must still win."""

    def test_pretouch_options_from_driver_memory(self):
        from dataverifyr_spark.session import _driver_java_options

        # -Xms in whole MiB: the JVM reads neither "2gb" nor a bare MiB count
        assert _driver_java_options("48g") == "-Xms49152m -XX:+AlwaysPreTouch"
        assert _driver_java_options("2gb") == "-Xms2048m -XX:+AlwaysPreTouch"
        assert _driver_java_options("1024") == "-Xms1024m -XX:+AlwaysPreTouch"
        assert _driver_java_options("1.5g") == ""  # unparseable -> no flag
        assert _driver_java_options("huge", "-Dx=1") == "-Dx=1"

    def test_caller_options_appended_after_so_they_win(self):
        from dataverifyr_spark.session import _driver_java_options

        out = _driver_java_options("48g", "-Xms8g -XX:MaxMetaspaceSize=1g")
        assert out.startswith("-Xms49152m -XX:+AlwaysPreTouch")
        # JVM takes the LAST -Xms, so the caller's 8g overrides
        assert out.endswith("-Xms8g -XX:MaxMetaspaceSize=1g")

    def test_session_confs_inject_only_for_sized_heap(self):
        from dataverifyr_spark.session import _session_confs

        # no driver memory: confs pass through, nothing injected
        assert _session_confs({"spark_ui_enabled": "false"}) == {"spark.ui.enabled": "false"}
        sized = _session_confs({"spark_driver_memory": "1g", "spark_ui_enabled": "false"})
        assert sized["spark.driver.memory"] == "1g"
        assert sized["spark.driver.extraJavaOptions"] == "-Xms1024m -XX:+AlwaysPreTouch"
        # unparseable size: no injection, the caller's options kept as given
        bad = _session_confs(
            {"spark_driver_memory": "huge", "spark_driver_extraJavaOptions": "-Dx=1"}
        )
        assert bad["spark.driver.extraJavaOptions"] == "-Dx=1"

    def test_mem_parse_and_ram_guard(self):
        from dataverifyr_spark.session import _mem_to_bytes, _pretouch_fits_ram

        assert _mem_to_bytes("48g") == 48 * 1024**3
        assert _mem_to_bytes("512M") == 512 * 1024**2
        assert _mem_to_bytes("2gb") == 2 * 1024**3
        assert _mem_to_bytes("1024") == 1024 * 1024**2  # bare number: MiB, as Spark reads it
        assert _mem_to_bytes("512b") == 512
        assert _mem_to_bytes("1.5g") is None  # unparseable -> no injection
        assert _pretouch_fits_ram("1g")       # 1g fits any CI box
        assert not _pretouch_fits_ram("huge") # unparseable -> refuse
        assert not _pretouch_fits_ram("1073741824t")  # > RAM -> refuse

    def test_ram_guard_reads_mem_available(self, tmp_path):
        from dataverifyr_spark.session import _pretouch_fits_ram

        # 64 GiB installed but only 2 GiB free: a 4g pre-touched heap must
        # not be injected, a 1g one may
        info = tmp_path / "meminfo"
        info.write_text(
            "MemTotal:       67108864 kB\nMemFree:         1048576 kB\n"
            "MemAvailable:    2097152 kB\n"
        )
        assert not _pretouch_fits_ram("4g", meminfo=str(info))
        assert _pretouch_fits_ram("1g", meminfo=str(info))
