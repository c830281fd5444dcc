"""Expected results, computed without Spark, and the output checks.

- audio rules: per-rule fail counts from the clip generator's violation
  cadences (``BAD_SR_EVERY`` ... ``CORRUPT_BYTES_EVERY``).
- profile: count, NULLs, min, max and mean per column (string columns by
  length, as ``describe`` profiles them) and per ``l_returnflag`` group,
  in hand-written DuckDB SQL over the same parquet files.

A check returns a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

import glob
import math
import os
from urllib.parse import unquote

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def audio_expectations(first: int, n_clips: int) -> dict[str, tuple[int, int]]:
    """rule name → (tests, fail) for ``audio_ruleset()`` over clips
    ``first .. first + n_clips - 1``, from the generator's cadences."""
    from dataverifyr_spark.audio import fixtures as fx

    idx = np.arange(first, first + n_clips)

    def every(k: int) -> np.ndarray:
        return (idx > 0) & (idx % k == 0)

    corrupt = every(fx.CORRUPT_BYTES_EVERY)
    no_text = every(fx.EMPTY_TRANSCRIPT_EVERY) | every(fx.NULL_TRANSCRIPT_EVERY)
    fails = {
        "decodes": corrupt,
        "sr_consistent": every(fx.BAD_SR_EVERY) | corrupt,
        "dur_consistent": every(fx.BAD_DUR_EVERY) | corrupt,
        "pcm_allclose_snr": corrupt,
        "transcript_equal": no_text,
        "transcript_nonempty": no_text,
    }
    return {name: (n_clips, int(mask.sum())) for name, mask in fails.items()}


def _read_rows(path: str) -> list[dict]:
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def _violation_counts(path: str) -> dict[str, int]:
    """failed_rule value → rows, from the parquet footers of each
    ``failed_rule=<escaped expr>`` directory."""
    counts: dict[str, int] = {}
    for d in glob.glob(os.path.join(path, "failed_rule=*")):
        rule = unquote(os.path.basename(d).split("=", 1)[1])
        counts[rule] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(d, "*.parquet"))
        )
    return counts


def check_job_outputs(
    out: str,
    expected: dict[str, tuple[int, int]],
    ledger_totals: list | None = None,
) -> list[str]:
    """Checks one ``validate_job`` pass: the summary against ``expected``;
    violation rows per rule against the summary ``fail``; the by-file rows,
    summed over files, against the summary; and the ledger totals (when
    given) against the summary."""
    problems: list[str] = []
    summary = {r["name"]: r for r in _read_rows(os.path.join(out, "summary"))}
    if set(summary) != set(expected):
        return [f"summary rules {sorted(summary)} != expected {sorted(expected)}"]
    for name, (tests, fail) in expected.items():
        got = (summary[name]["tests"], summary[name]["fail"])
        if got != (tests, fail) or summary[name]["error"]:
            problems.append(f"summary {name}: (tests, fail) {got} != {(tests, fail)}")

    violations = _violation_counts(os.path.join(out, "violations"))
    for r in summary.values():
        if r["check_type"] == "row_rule" and violations.get(r["expr"], 0) != r["fail"]:
            problems.append(
                f"violations {r['name']}: {violations.get(r['expr'], 0)} rows != fail {r['fail']}"
            )

    by_file: dict[str, list[int]] = {}
    for r in _read_rows(os.path.join(out, "summary_by_file")):
        acc = by_file.setdefault(r["name"], [0, 0, 0])
        for i, k in enumerate(("tests", "pass", "fail")):
            acc[i] += r[k]
    for name, r in summary.items():
        if by_file.get(name) != [r["tests"], r["pass"], r["fail"]]:
            problems.append(f"by-file sums {name}: {by_file.get(name)} != summary")

    if ledger_totals is not None:
        led = {r["name"]: [r["tests"], r["pass"], r["fail"]] for r in ledger_totals}
        for name, r in summary.items():
            if led.get(name) != [r["tests"], r["pass"], r["fail"]]:
                problems.append(f"ledger totals {name}: {led.get(name)} != summary")
    return problems


# describe's per-column statistics, in DuckDB: numeric columns by value,
# string columns by length (timestamps are checked for n and n_na only)
_NUMERIC = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)
_STRING = ("l_returnflag", "l_linestatus")


def _stat_sql(col: str) -> str:
    v = f"length({col})" if col in _STRING else col
    return (
        f"count(*), count(*) - count({col}), min({v}), max({v}), avg({v})"
        if col in _NUMERIC + _STRING
        else f"count(*), count(*) - count({col}), NULL, NULL, NULL"
    )


def profile_expectations(lineitem_dir: str, columns: list[str]) -> dict:
    """{(group or None, column): (n, n_na, min, max, mean)} for ``describe``
    (group None) and ``describe_by(by="l_returnflag")``."""
    src = f"read_parquet('{os.path.join(lineitem_dir, '*.parquet')}')"
    con = _duck()
    out: dict = {}
    try:
        for col in columns:
            out[(None, col)] = con.execute(f"SELECT {_stat_sql(col)} FROM {src}").fetchone()
            if col == "l_returnflag":
                continue
            for row in con.execute(
                f"SELECT l_returnflag, {_stat_sql(col)} FROM {src} GROUP BY 1"
            ).fetchall():
                out[(row[0], col)] = row[1:]
    finally:
        con.close()
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def check_profile(rows: list, by_rows: list, expected: dict) -> list[str]:
    """Compares collected ``describe`` and ``describe_by`` rows with
    :func:`profile_expectations`."""
    problems: list[str] = []
    got = {(None, r["var"]): r for r in rows}
    got.update({(r["l_returnflag"], r["var"]): r for r in by_rows})
    if set(got) != set(expected):
        return [f"profile keys {sorted(map(str, got))} != expected"]
    for key, (n, n_na, lo, hi, mean) in expected.items():
        r = got[key]
        if (r["n"], r["n_na"]) != (n, n_na):
            problems.append(f"profile {key}: (n, n_na) {(r['n'], r['n_na'])} != {(n, n_na)}")
        if lo is not None and not (
            _close(r["min"], lo) and _close(r["max"], hi) and _close(r["mean"], mean)
        ):
            problems.append(
                f"profile {key}: min/max/mean {(r['min'], r['max'], r['mean'])} "
                f"!= {(lo, hi, mean)}"
            )
    return problems
