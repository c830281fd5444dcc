"""The benchmark's workloads.

Each workload writes its seeded inputs (:meth:`prepare`), computes the
expected results without Spark (:meth:`expect`), runs one pass through the
program's public entry points (:meth:`run_pass`) and checks that pass's
outputs (:meth:`check`).  Only :meth:`run_pass` is timed.  ``region(name,
layer)`` marks a traced span around benchmark code that does a layer's work
outside the program's own calls (a no-op when not tracing).
"""

from __future__ import annotations

import contextlib
import io
import os
from dataclasses import dataclass

import inputs
import oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RULES_TABLE = os.path.join(REPO, "perfbench", "rules_table.yaml")


def _validate_job(argv: list[str]) -> int:
    """``jobs/validate_job.main(argv)`` in-process, its console output
    swallowed so the benchmark's own output stays readable."""
    from validate_job import main

    with contextlib.redirect_stdout(io.StringIO()):
        return main(argv)


@dataclass
class Inputs:
    dir: str
    rows: int
    data: str
    rules: str | None = None
    first_clip: int = 0


class AudioJob:
    """``validate_job --audio --by-file --part-col bucket`` over the clip
    table; rules are ``audio_ruleset()`` written to and read from YAML."""

    name = "audio_job"
    CLIPS, FILES = 400, 4

    def prepare(self, root: str, seed: int) -> Inputs:
        from dataverifyr_spark import write_rules
        from dataverifyr_spark.audio import audio_ruleset

        data = os.path.join(root, "clips")
        first = inputs.write_clips(data, seed, self.CLIPS, self.FILES)
        rules = os.path.join(root, "rules_audio.yaml")
        write_rules(audio_ruleset(), rules)
        return Inputs(dir=root, rows=self.CLIPS, data=data, rules=rules, first_clip=first)

    def expect(self, inp: Inputs):
        return oracle.audio_expectations(inp.first_clip, inp.rows)

    def run_pass(self, spark, inp: Inputs, out: str, run_id: str, region) -> None:
        argv = ["--input", inp.data, "--rules", inp.rules, "--out", out, "--run-id", run_id,
                "--audio", "--by-file", "--part-col", "bucket"]
        rc = _validate_job(argv)
        if rc != 0:
            raise RuntimeError(f"validate_job returned {rc}")

    def check(self, spark, inp: Inputs, expected, out: str, run_id: str) -> list[str]:
        from dataverifyr_spark.ledger import ValidationLedger

        totals = ValidationLedger(spark, os.path.join(out, "ledger")).totals(run_id).collect()
        return oracle.check_job_outputs(out, expected, [r.asDict() for r in totals])


class Profile:
    """``describe(approx=True, top_n=0)`` plus
    ``describe_by(by="l_returnflag", approx=True)`` over the lineitem files,
    read back with ``load_table`` on every pass."""

    name = "profile"
    ROWS, FILES = 300_000, 8

    def __init__(self):
        self._last: tuple[list, list] = ([], [])

    def prepare(self, root: str, seed: int) -> Inputs:
        li, _ = inputs.write_tables(root, seed, self.ROWS, self.FILES)
        return Inputs(dir=root, rows=self.ROWS, data=li)

    def expect(self, inp: Inputs):
        import pyarrow.parquet as pq

        cols = pq.read_schema(os.path.join(inp.data, "part-00000.parquet")).names
        return oracle.profile_expectations(inp.data, cols)

    def run_pass(self, spark, inp: Inputs, out: str, run_id: str, region) -> None:
        import dataverifyr_spark as dv
        from dataverifyr_spark.sources import load_table

        df = load_table(spark, inp.data)
        # describe_by returns a lazy frame: its jobs run in the collect,
        # which is traced as part of the describe layer
        with region("describe.collect", "describe"):
            rows = dv.describe(df, approx=True, top_n=0).collect()
        with region("describe_by.collect", "describe"):
            by_rows = dv.describe_by(df, by="l_returnflag", approx=True).collect()
        self._last = ([r.asDict() for r in rows], [r.asDict() for r in by_rows])

    def check(self, spark, inp: Inputs, expected, out: str, run_id: str) -> list[str]:
        return oracle.check_profile(*self._last, expected)


WORKLOADS = {w.name: w for w in (AudioJob, Profile)}


def known_defect_probe(spark, root: str) -> str:
    """Runs ``validate_job --ref ... --part-col ...`` once on an sf0.001-sized
    table.  ``ValidationLedger.run`` calls ``check_data_by`` without the
    reference datasets, which raises for reference rules after summary,
    violations and by-file were written.  Returns the outcome as text."""
    li, orders = inputs.write_tables(root, 0, 6_000, 2)
    out = os.path.join(root, "out")
    argv = ["--input", li, "--rules", RULES_TABLE, "--out", out, "--run-id", "probe",
            "--by-file", "--ref", f"orders={orders}", "--part-col", "l_returnflag"]
    try:
        rc = _validate_job(argv)
    except Exception as e:  # the outcome under test; reported, never raised
        written = sorted(d for d in os.listdir(out)) if os.path.isdir(out) else []
        msg = str(e).splitlines()[0][:160]
        return f"raised {type(e).__name__}: {msg} (written before it: {', '.join(written)})"
    return f"completed with exit code {rc}"
