"""Per-layer trace: spans around the program's public calls, joined to
Spark's own event log.

A :class:`Tracer` replaces the module attributes the job resolves (for
example ``dataverifyr_spark.check_data``) with wrappers.  While enabled, a
wrapper records a span (name, start, end, parent, pass) in memory and tags
the Spark jobs the call launches with ``SparkContext.addJobTag``.  After the
session stops, :func:`read_event_log` reads the uncompressed event log and
:func:`pass_metrics` joins each job to the innermost span whose tag it
carries, so task metrics and SQL accumulators land on spans.

Self time of a span is its duration minus the part of it covered by its
child spans and by the Spark jobs attributed to it directly.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import dataverifyr_spark
import dataverifyr_spark.audio
import dataverifyr_spark.check
import dataverifyr_spark.expr
import dataverifyr_spark.ledger
import dataverifyr_spark.sources

TAG_PREFIX = "perfbench-span-"

# (owner, attribute, span name, layer, tag jobs).  Each attribute is the one
# the calling code resolves: validate_job imports from the package and from
# sources/ledger/audio at call time; check_data_by_file and the ledger call
# check_data_by through their own module globals; _compile_all and
# fail_predicate reach compile_expr through check's global and expr's
# attribute.
_TARGETS = (
    (dataverifyr_spark, "check_data", "check_data", "check", True),
    (dataverifyr_spark, "check_data_by_file", "check_data_by_file", "check", True),
    (dataverifyr_spark.check, "check_data_by", "check_data_by", "check", True),
    (dataverifyr_spark.ledger, "check_data_by", "check_data_by", "check", True),
    (dataverifyr_spark, "filter_fails", "filter_fails", "filters", True),
    (dataverifyr_spark, "describe", "describe", "describe", True),
    (dataverifyr_spark, "describe_by", "describe_by", "describe", True),
    (dataverifyr_spark.sources, "load_table", "load_table", "sources", True),
    (dataverifyr_spark.sources, "write_summary", "write_summary", "sources", True),
    (dataverifyr_spark.sources, "write_violations", "write_violations", "sources", True),
    (dataverifyr_spark.audio, "with_audio_features", "with_audio_features", "audio", True),
    (dataverifyr_spark.ledger.ValidationLedger, "run", "ValidationLedger.run", "ledger", True),
    (
        dataverifyr_spark.ledger.ValidationLedger,
        "pending_partitions",
        "ValidationLedger.pending_partitions",
        "ledger",
        True,
    ),
    # compile_expr launches no jobs; untagged to keep its span cheap
    (dataverifyr_spark.check, "compile_expr", "compile_expr", "expr", False),
    (dataverifyr_spark.expr, "compile_expr", "compile_expr", "expr", False),
)
# layers with spans; "job" is the pass itself (validate_job's own code or
# the benchmark's profile calls)
LAYERS = ("job", "expr", "check", "filters", "audio", "describe", "sources", "ledger")
CHECK_FNS = ("check_data", "check_data_by", "check_data_by_file")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0


class Tracer:
    """Spans in memory; wrappers installed by :meth:`install` record only
    inside :meth:`pass_span`."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pass: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for owner, attr, name, layer, tag in _TARGETS:
            original = getattr(owner, attr)
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name, layer, tag))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def _wrap(self, fn, name: str, layer: str, tag: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._pass is None:
                return fn(*args, **kwargs)
            with self._span(name, layer, tag):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, tag: bool):
        span = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=self._stack[-1] if self._stack else None,
            pass_id=self._pass,
            start=time.time(),
        )
        self.spans.append(span)
        self._stack.append(span.id)
        if tag:
            self.sc.addJobTag(f"{TAG_PREFIX}{span.id}")
        try:
            yield span
        finally:
            if tag:
                self.sc.removeJobTag(f"{TAG_PREFIX}{span.id}")
            self._stack.pop()
            span.end = time.time()

    @contextlib.contextmanager
    def region(self, name: str, layer: str):
        """A tagged span around benchmark code, recorded inside a pass."""
        if self._pass is None:
            yield
        else:
            with self._span(name, layer, True):
                yield

    @contextlib.contextmanager
    def pass_span(self, pass_id: int, name: str):
        """Root span of one traced pass; wrappers record only inside it."""
        self._pass = pass_id
        try:
            with self._span(name, "job", True):
                yield
        finally:
            self._pass = None


@dataclass
class Job:
    id: int
    start: float
    end: float
    tags: set[str]
    execution: str | None
    totals: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs of the (single) application in ``log_dir`` with their task
    metrics and SQL accumulator sums, keyed by job id.

    Task metrics are summed per stage and a stage is charged to the first
    job that lists it (later jobs list it again as skipped).  SQL
    accumulators are named ``<plan node>:<metric>``; task-side ones come
    from task updates, driver-side ones (files written) from the driver
    updates of the job's SQL execution."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and "appstatus" not in os.path.basename(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())

    acc_names: dict[int, str] = {}

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", ()):
            acc_names[m["accumulatorId"]] = f"{plan['nodeName'].strip()}:{m['name']}"
        for child in plan.get("children", ()):
            walk(child)

    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith(
            ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
        ):
            walk(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = [s["Stage ID"] for s in e["Stage Infos"]]
            jobs[e["Job ID"]] = Job(
                id=e["Job ID"],
                start=e["Submission Time"] / 1000.0,
                end=e["Submission Time"] / 1000.0,
                tags=set(filter(None, props.get("spark.job.tags", "").split(","))),
                execution=props.get("spark.sql.execution.id"),
            )
            for s in stages:
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0

    first_job_of_execution: dict[str, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        if j.execution is not None:
            first_job_of_execution.setdefault(j.execution, j.id)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            job = jobs[stage_job[e["Stage ID"]]]
            _add_task(job.totals, e, acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            jid = first_job_of_execution.get(str(e["executionId"]))
            if jid is not None:
                for acc_id, value in e["accumUpdates"]:
                    if acc_id in acc_names:
                        jobs[jid].totals[acc_names[acc_id]] += float(value)
    return jobs


def _add_task(t: dict, e: dict, acc_names: dict[int, str]) -> None:
    m = e.get("Task Metrics") or {}
    t["tasks"] += 1
    t["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["peak_exec_mem_mb"] = max(t["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20)
    t["rows_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    t["bytes_written"] += out.get("Bytes Written", 0)
    t["records_written"] += out.get("Records Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
        name = acc_names.get(acc.get("ID"))
        if name is not None and acc.get("Update") is not None:
            t[name] += float(acc["Update"])


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals."""
    total, cur_start, cur_end = 0.0, 0.0, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(job: Job, span: Span) -> tuple[float, float]:
    start = min(max(job.start, span.start), span.end)
    return start, max(min(job.end, span.end), start)


def _attribute(by_id: dict[int, Span], jobs: dict[int, Job]) -> dict[int, list[Job]]:
    """span id → the jobs whose innermost tagged span it is."""
    def depth(sid: int) -> int:
        d, s = 0, by_id[sid]
        while s.parent is not None:
            d, s = d + 1, by_id[s.parent]
        return d

    direct: dict[int, list[Job]] = defaultdict(list)
    for j in jobs.values():
        ids = [int(t[len(TAG_PREFIX):]) for t in j.tags if t.startswith(TAG_PREFIX)]
        ids = [i for i in ids if i in by_id]
        if ids:
            direct[max(ids, key=depth)].append(j)
    return direct


PYTHON_ROWS = "ArrowEvalPython:number of output rows"
PYTHON_RUN_MS = "ArrowEvalPython:time to run Python workers"
PYTHON_SENT = "ArrowEvalPython:data sent to Python workers"
AGG_BUILD_MS = (
    "HashAggregate:time in aggregation build",
    "ObjectHashAggregate:time in aggregation build",
)
FILES_WRITTEN = "Execute InsertIntoHadoopFsRelationCommand:number of written files"
ENGINE_TOTALS = ("tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "rows_read")


def pass_metrics(
    spans: list[Span], jobs: dict[int, Job], pass_id: int, input_rows: int, cores: int
) -> dict[str, float]:
    """Per-layer metrics of one traced pass (README.md defines each)."""
    mine = [s for s in spans if s.pass_id == pass_id]
    by_id = {s.id: s for s in mine}
    root = next(s for s in mine if s.parent is None)
    wall = root.end - root.start
    direct = _attribute(by_id, jobs)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in mine:
        if s.parent is not None:
            children[s.parent].append(s)

    def lineage(s: Span) -> list[Span]:
        out = []
        while s is not None:
            out.append(s)
            s = by_id.get(s.parent)
        return out

    def under(pred) -> list[Job]:
        """Jobs of spans with an ancestor-or-self matching ``pred``."""
        return [j for sid, js in direct.items() if any(map(pred, lineage(by_id[sid]))) for j in js]

    def total(js: list[Job], key: str) -> float:
        return sum(j.totals.get(key, 0.0) for j in js)

    def outermost(names) -> list[Span]:
        return [
            s for s in mine
            if s.name in names and not any(a.name in names for a in lineage(s)[1:])
        ]

    def dur(names) -> float:
        return sum(s.end - s.start for s in outermost(names))

    # self time: duration minus what child spans and own jobs cover (jobs
    # clipped to the span).  The pass span's own self time ("job") is driver
    # time outside every wrapped call, which no layer explains; so the layers
    # account for the pass wall by their self times plus Spark job time, and
    # what is left over is the unaccounted share
    layer_self: dict[str, float] = defaultdict(float)
    job_time = 0.0
    for s in mine:
        own = direct.get(s.id, [])
        covered = _union([(c.start, c.end) for c in children[s.id]] + [_clip(j, s) for j in own])
        layer_self[s.layer] += (s.end - s.start) - covered
        job_time += _union([(j.start, j.end) for j in own])
    attributed = {j.id for js in direct.values() for j in js}
    untagged = [
        j for j in jobs.values() if root.start <= j.start <= root.end and j.id not in attributed
    ]

    all_jobs = [j for js in direct.values() for j in js]
    check_jobs = under(lambda a: a.layer == "check")
    compiles = [
        s for s in mine if s.name == "compile_expr" and by_id[s.parent].name != "compile_expr"
    ]
    driver_ms = [
        1000.0 * ((c.end - c.start) - _union([_clip(j, c) for j in under(lambda a, c=c: a is c)]))
        for c in outermost(CHECK_FNS)
    ]
    write_viol = under(lambda a: a.name == "write_violations")
    describe_jobs = under(lambda a: a.layer == "describe")
    run_s = total(all_jobs, "exec_run_s")
    python_s = total(all_jobs, PYTHON_RUN_MS) / 1000.0

    m = {
        "expr.compile_ms_per_rule": (
            1000.0 * statistics.fmean(s.end - s.start for s in compiles) if compiles else 0.0
        ),
        "expr.compiles": float(len(compiles)),
        "check.call_s.check_data": dur(("check_data",)),
        "check.call_s.check_data_by": dur(("check_data_by",)),
        "check.call_s.check_data_by_file": dur(("check_data_by_file",)),
        "check.driver_ms": statistics.fmean(driver_ms) if driver_ms else 0.0,
        "check.jobs": float(len(check_jobs)),
        "check.rows_scanned_per_input_row": total(check_jobs, "rows_read") / input_rows,
        "filters.plan_ms": 1000.0 * dur(("filter_fails",)),
        "filters.violation_rows": total(write_viol, "records_written"),
        "filters.write_exec_cpu_s": total(write_viol, "exec_cpu_s"),
        "audio.decodes_per_clip": total(all_jobs, PYTHON_ROWS) / input_rows,
        "audio.python_run_s": python_s,
        "audio.python_bytes_sent": total(all_jobs, PYTHON_SENT),
        "audio.python_share": python_s / run_s if run_s else 0.0,
        "describe.call_s.describe": dur(("describe",)),
        "describe.call_s.describe_by": dur(("describe_by",)),
        "describe.agg_build_s": sum(total(describe_jobs, k) for k in AGG_BUILD_MS) / 1000.0,
        "describe.exec_cpu_s": total(describe_jobs, "exec_cpu_s"),
        "sources.write_s.write_summary": dur(("write_summary",)),
        "sources.write_s.write_violations": dur(("write_violations",)),
        "sources.bytes_written": total(all_jobs, "bytes_written"),
        "sources.files_written": total(all_jobs, FILES_WRITTEN),
        "ledger.run_s": dur(("ValidationLedger.run",)),
        "ledger.jobs": float(len(under(lambda a: a.layer == "ledger"))),
        "spark.jobs": float(len(all_jobs)),
        "spark.job_s": job_time,
        **{f"spark.{k}": total(all_jobs, k) for k in ENGINE_TOTALS},
        "spark.peak_exec_mem_mb": max(
            (j.totals.get("peak_exec_mem_mb", 0.0) for j in all_jobs), default=0.0
        ),
        "spark.core_idle_share": 1.0 - run_s / (cores * wall),
        **{f"{layer}.self_s": layer_self.get(layer, 0.0) for layer in LAYERS},
        "trace.unaccounted_share": abs(
            1.0 - (sum(v for k, v in layer_self.items() if k != "job") + job_time) / wall
        ),
        "trace.untagged_jobs": float(len(untagged)),
    }
    return m


def span_table(spans: list[Span], jobs: dict[int, Job], pass_ids: list[int]) -> list[dict]:
    """Per span name, averaged over the given passes: calls, wall, and the
    jobs and Spark engine totals attributed directly to those spans."""
    mine = [s for s in spans if s.pass_id in pass_ids]
    direct = _attribute({s.id: s for s in mine}, jobs)
    rows: dict[str, dict] = {}
    for s in mine:
        r = rows.setdefault(s.name, {"span": s.name, "layer": s.layer, "calls": 0.0, "wall_s": 0.0,
                                     "jobs": 0.0, "job_s": 0.0, **{k: 0.0 for k in ENGINE_TOTALS}})
        r["calls"] += 1
        r["wall_s"] += s.end - s.start
        for j in direct.get(s.id, ()):
            r["jobs"] += 1
            r["job_s"] += j.end - j.start
            for k in ENGINE_TOTALS:
                r[k] += j.totals.get(k, 0.0)
    n = max(len(pass_ids), 1)
    return [
        {k: v / n if isinstance(v, float) else v for k, v in r.items()}
        for r in sorted(rows.values(), key=lambda r: -r["wall_s"])
    ]

