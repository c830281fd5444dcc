"""spark-submit entry point (north_rule launch mode):

    zip -r dataverifyr_spark.zip dataverifyr_spark
    spark-submit --py-files dataverifyr_spark.zip jobs/validate_job.py \\
        --input  /path/or/catalog.table \\
        --rules  rules.yaml \\
        --out    /warehouse/validation \\
        [--part-col clip_id_bucket] [--run-id nightly-2026-08-16] \\
        [--audio] [--ref name=path ...]

Runs check_data (optionally with the audio feature probe), writes the
summary, the rule-tagged violation rows (partitioned by rule), and — when
--part-col is given — per-partition ledger rows enabling resume: re-submitting
with the same --run-id skips completed partitions.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="table path or catalog name")
    p.add_argument("--rules", required=True, help="rules YAML (v1 or pre_v1)")
    p.add_argument("--out", required=True, help="output root (summary/, violations/, ledger/)")
    p.add_argument("--part-col", default=None, help="partition column for ledger + resume")
    p.add_argument("--run-id", default=None)
    p.add_argument("--audio", action="store_true", help="add decoded audio feature columns first")
    p.add_argument("--by-file", action="store_true",
                   help="also write per-source-file summary rows (check_data_by_file)")
    p.add_argument("--ref", action="append", default=[], metavar="NAME=PATH",
                   help="reference dataset for reference_rules (repeatable)")
    p.add_argument("--stop-on-fail", action="store_true")
    args = p.parse_args(argv)

    from dataverifyr_spark import check_data, filter_fails, read_rules
    from dataverifyr_spark.ledger import ValidationLedger
    from dataverifyr_spark.session import build_spark
    from dataverifyr_spark.sources import load_table, write_summary, write_violations

    spark = build_spark(app_name="dataverifyr-validate")
    run_id = args.run_id or f"run-{int(time.time())}"

    df = load_table(spark, args.input)
    if args.audio:
        from dataverifyr_spark.audio import with_audio_features

        df = with_audio_features(df)

    rules = read_rules(args.rules)
    datasets = {"data": df}
    for spec in args.ref:
        name, _, path = spec.partition("=")
        datasets[name] = load_table(spark, path)

    summary = check_data(
        datasets if len(datasets) > 1 else df,
        rules,
        data_name="data" if len(datasets) > 1 else None,
        stop_on_fail=args.stop_on_fail,
    )
    write_summary(summary, f"{args.out}/summary", run_id=run_id)

    violations = filter_fails(rules, df, tag=True)
    write_violations(violations, f"{args.out}/violations", run_id=run_id)

    refs = {k: v for k, v in datasets.items() if k != "data"}
    if args.by_file:
        # shard-level lineage: one row per (source file x rule) — joins
        # against the ingest manifest to locate the bad shard.  Runs on the
        # same (possibly probe-widened) frame as the global check: the
        # probe is a projection, so input_file_name() still resolves.
        from dataverifyr_spark import check_data_by_file

        per_file = check_data_by_file(df, rules, datasets=refs or None)
        write_summary(per_file, f"{args.out}/summary_by_file", run_id=run_id)

    if args.part_col:
        ledger = ValidationLedger(spark, f"{args.out}/ledger")
        n_before = ledger.pending_partitions(df, args.part_col, run_id).count()
        ledger.run(df, rules, args.part_col, run_id=run_id, datasets=refs or None)
        print(
            f"ledger: validated {n_before} pending partition(s) this submit"
            + (" (resume: all partitions already committed)" if n_before == 0 else "")
        )

    summary.show(truncate=False)
    n_fail = sum(r["fail"] for r in summary.collect())
    print(f"run_id={run_id} total_rule_fails={n_fail}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
