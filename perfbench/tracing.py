"""Traced runs: StageRunner spans recorded from the benchmark process, and
the per-layer split computed from Spark's event log.

Spans.  ``SpanRecorder.install()`` wraps ``StageRunner.stage``,
``StageRunner.source`` and ``StageRunner.flush`` so that every call records
a span and labels its Spark jobs with ``setJobGroup(<span name>)``.
Checkpoint writes run in StageRunner's background threads, which do not
inherit the job group; their jobs are recognized instead by the
``InsertIntoHadoopFsRelationCommand`` node of their SQL execution.

Event log.  ``EventLog`` reads the uncompressed JSON-lines log
(``spark.eventLog.compress=false``) and keeps, per task, its stage, run
time, shuffle bytes, spill and SQL-metric updates; per stage, the job group
and SQL execution it ran under; per SQL execution, whether it writes files
and the (node, metric) name of every accumulator in its plans.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# Span (job group) name -> layer.  Stage names are run_dedup's stages.
GROUP_LAYER = {
    "source:transcripts": "checkpoint",
    "stage:records": "features",
    "stage:pairs": "blocking",
    "stage:links": "scoring",
    "stage:clusters": "clustering",
    "cc": "clustering",
    "flush": "checkpoint",
    "run_dedup": "dedup",
    "count": "dedup",
}
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
ARROW_NODE = "ArrowEvalPython"
MB = 1e6

# Per-layer metrics, in report order: name -> unit.
PER_LAYER = {
    "session.start_s": "s",
    "checkpoint.flush_s": "s",
    "checkpoint.write_task_s": "s",
    "checkpoint.bytes_written_mb": "MB",
    "checkpoint.resume_s": "s",
    "features.stage_s": "s",
    "features.task_s": "s",
    "blocking.stage_s": "s",
    "blocking.task_s": "s",
    "blocking.shuffle_write_mb": "MB",
    "blocking.candidate_pairs": "count",
    "blocking.task_skew": "ratio",
    "scoring.stage_s": "s",
    "scoring.task_s": "s",
    "scoring.shuffle_write_mb": "MB",
    "scoring.arrow_rows": "count",
    "scoring.arrow_sent_mb": "MB",
    "scoring.python_run_s": "s",
    "scoring.links": "count",
    "scoring.link_yield": "ratio",
    "clustering.stage_s": "s",
    "clustering.task_s": "s",
    "clustering.rounds": "count",
    "clustering.round_s": "s",
    "clustering.jobs": "count",
    "dedup.self_s": "s",
    "driver.jobs": "count",
    "driver.idle_s": "s",
    "spark.spill_mb": "MB",
    "cpu.jvm_s": "s",
    "cpu.python_s": "s",
    "trace.wall_s": "s",
    "trace.residual_s": "s",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    resumed: bool = False  # a stage call served from its manifest
    rows: int | None = None  # the stage's row count, when it has one

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Records spans at the layer boundaries this process calls into, and
    labels the Spark jobs each span starts with its name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._originals: dict[str, object] = {}

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        sp = Span(name, time.time())
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.spans.append(sp)
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def install(self) -> None:
        from easylink_spark.sources.checkpoint import StageRunner

        stage, source, flush = StageRunner.stage, StageRunner.source, StageRunner.flush
        self._originals = {"stage": stage, "source": source, "flush": flush}

        def traced_stage(runner, name, fn, *args, **kwargs):
            called = []

            def traced_fn():
                called.append(True)
                return fn()

            with self.span(f"stage:{name}") as sp:
                out = stage(runner, name, traced_fn, *args, **kwargs)
            sp.resumed = not called
            sp.rows = runner.row_counts.get(name)
            return out

        def traced_source(runner, name, *args, **kwargs):
            with self.span(f"source:{name}"):
                return source(runner, name, *args, **kwargs)

        def traced_flush(runner):
            with self.span("flush"):
                return flush(runner)

        StageRunner.stage = traced_stage
        StageRunner.source = traced_source
        StageRunner.flush = traced_flush

    def uninstall(self) -> None:
        from easylink_spark.sources.checkpoint import StageRunner

        for attr, fn in self._originals.items():
            setattr(StageRunner, attr, fn)
        self._originals = {}

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.start and s.end <= t1]


# -- event log ---------------------------------------------------------------


def event_files(log_dir: Path) -> list[Path]:
    """The log's data files in write order (Spark 4 writes a directory of
    rolled ``events_<n>_<app>`` files; older layouts, one file)."""

    def order(p: Path) -> tuple:
        parts = p.name.split("_")
        return (int(parts[1]) if p.name.startswith("events_") else 0, p.name)

    files = [
        p for p in log_dir.rglob("*")
        if p.is_file()
        and not p.name.startswith((".", "appstatus"))
        and not p.name.endswith(".crc")
    ]
    return sorted(files, key=order)


def read_events(log_dir: Path) -> Iterator[dict]:
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Task:
    stage: int
    launch: int  # epoch ms
    finish: int
    run_ms: int
    shuffle_write: int
    spill_disk: int
    accums: dict[int, int] = field(default_factory=dict)


def _as_int(v) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


class EventLog:
    def __init__(self, events: Iterable[dict]):
        self.jobs: list[tuple[int, str | None]] = []  # (submit ms, group)
        self.stage_ctx: dict[int, tuple[str | None, int | None]] = {}
        self.tasks: list[Task] = []
        self.write_execs: set[int] = set()
        self.acc_names: dict[int, tuple[str, str]] = {}
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs.append(
                    (e["Submission Time"], props.get("spark.jobGroup.id"))
                )
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                self.stage_ctx[e["Stage Info"]["Stage ID"]] = (
                    props.get("spark.jobGroup.id"),
                    _as_int(props.get("spark.sql.execution.id")),
                )
            elif kind == "SparkListenerTaskEnd":
                self._task(e)
            elif "sparkPlanInfo" in e:  # SQL execution start / AQE update
                self._plan(e["executionId"], e["sparkPlanInfo"])

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        accums = {}
        for a in info.get("Accumulables", []):
            v = _as_int(a.get("Update"))
            if a.get("Metadata") == "sql" and v is not None:
                accums[a["ID"]] = v
        self.tasks.append(Task(
            e["Stage ID"], info["Launch Time"], info["Finish Time"],
            m.get("Executor Run Time", 0),
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            m.get("Disk Bytes Spilled", 0),
            accums,
        ))

    def _plan(self, exec_id: int, node: dict) -> None:
        if node.get("nodeName", "").startswith(WRITE_NODE):
            self.write_execs.add(exec_id)
        for metric in node.get("metrics", []):
            self.acc_names[metric["accumulatorId"]] = (
                node.get("nodeName", ""), metric["name"]
            )
        for child in node.get("children", []):
            self._plan(exec_id, child)

    def layer_of(self, stage: int) -> str:
        group, exec_id = self.stage_ctx.get(stage, (None, None))
        if exec_id is not None and exec_id in self.write_execs:
            return "checkpoint"
        return GROUP_LAYER.get(group, "other")

    def window(self, t0: float, t1: float) -> dict:
        """Per-layer task time, shuffle writes, Arrow metrics, skew and job
        counts for the jobs and tasks that started in [t0, t1] (epoch s)."""
        lo, hi = t0 * 1000, t1 * 1000
        tasks = [t for t in self.tasks if lo <= t.launch <= hi]
        layers: dict[str, dict] = {}
        by_stage: dict[int, list[int]] = {}
        busy: list[tuple[int, int]] = []
        spill = 0
        for t in tasks:
            layer = self.layer_of(t.stage)
            d = layers.setdefault(layer, {
                "task_ms": 0, "shuffle_write": 0, "arrow_rows": 0,
                "arrow_sent": 0, "python_run_ms": 0, "stage_ms": {},
            })
            d["task_ms"] += t.run_ms
            d["shuffle_write"] += t.shuffle_write
            d["stage_ms"][t.stage] = d["stage_ms"].get(t.stage, 0) + t.run_ms
            by_stage.setdefault(t.stage, []).append(t.run_ms)
            spill += t.spill_disk
            busy.append((max(t.launch, lo), min(t.finish, hi)))
            for acc, v in t.accums.items():
                node, metric = self.acc_names.get(acc, ("", ""))
                if node != ARROW_NODE:
                    continue
                if metric == "number of output rows":
                    d["arrow_rows"] += v
                elif metric == "data sent to Python workers":
                    d["arrow_sent"] += v
                elif metric == "time to run Python workers":
                    d["python_run_ms"] += v
        for d in layers.values():
            heaviest = max(d["stage_ms"], key=d["stage_ms"].get)
            d["task_skew"] = skew(by_stage[heaviest])
        jobs = [g for ts, g in self.jobs if lo <= ts <= hi]
        return {
            "layers": layers,
            "jobs": len(jobs),
            "jobs_by_layer": Counter(GROUP_LAYER.get(g, "other") for g in jobs),
            "idle_s": (hi - lo - union_ms(busy)) / 1000,
            "spill": spill,
        }


def skew(durations: list[int]) -> float:
    """max / median task time of one Spark stage (1.0 for an even stage)."""
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def written_bytes(ckpt: Path, stages: Iterable[str]) -> int:
    """Bytes of the stage tables ``stages`` wrote, from their manifests'
    per-file stats."""
    total = 0
    for name in stages:
        m = json.loads((ckpt / f"{name}._manifest.json").read_text())
        total += sum(size for _, _, size in m["files"])
    return total


def layer_metrics(
    log: EventLog, spans: list[Span], t0: float, t1: float, extra: dict
) -> dict[str, float]:
    """The PER_LAYER metrics of one traced request in [t0, t1].

    ``extra`` carries what the event log does not: ``session_start_s``,
    ``cpu`` (jvm/python seconds), ``rounds`` and, for dedup, ``ckpt``.
    """
    w = log.window(t0, t1)
    layers = w["layers"]

    def lay(name: str, key: str) -> float:
        return layers.get(name, {}).get(key, 0)

    def span_s(*names: str, resumed: bool | None = None) -> float:
        return sum(
            s.seconds for s in spans
            if s.name in names and (resumed is None or s.resumed == resumed)
        )

    def rows(name: str) -> int:
        return next((s.rows or 0 for s in spans if s.name == name), 0)

    stage_names = ["stage:records", "stage:pairs", "stage:links", "stage:clusters"]
    # the serial split of a request: the stages, the durability barrier and,
    # for cc_chain, the one connected_components call
    serial = span_s(*stage_names, "flush", "cc")
    children = serial + span_s("source:transcripts", "count")
    root = span_s("run_dedup")
    computed = [s.name.split(":", 1)[1] for s in spans
                if s.name.startswith("stage:") and not s.resumed]
    written = written_bytes(Path(extra["ckpt"]), computed) if "ckpt" in extra else 0
    rounds = extra.get("rounds") or 0
    clustering_s = span_s("stage:clusters", "cc")
    pairs, links = rows("stage:pairs"), rows("stage:links")
    wall = t1 - t0
    return {
        "session.start_s": extra["session_start_s"],
        "checkpoint.flush_s": span_s("flush"),
        "checkpoint.write_task_s": lay("checkpoint", "task_ms") / 1000,
        "checkpoint.bytes_written_mb": written / MB,
        "checkpoint.resume_s": span_s(*stage_names, resumed=True),
        "features.stage_s": span_s("stage:records"),
        "features.task_s": lay("features", "task_ms") / 1000,
        "blocking.stage_s": span_s("stage:pairs"),
        "blocking.task_s": lay("blocking", "task_ms") / 1000,
        "blocking.shuffle_write_mb": lay("blocking", "shuffle_write") / MB,
        "blocking.candidate_pairs": pairs,
        "blocking.task_skew": lay("blocking", "task_skew"),
        "scoring.stage_s": span_s("stage:links"),
        "scoring.task_s": lay("scoring", "task_ms") / 1000,
        "scoring.shuffle_write_mb": lay("scoring", "shuffle_write") / MB,
        "scoring.arrow_rows": lay("scoring", "arrow_rows"),
        "scoring.arrow_sent_mb": lay("scoring", "arrow_sent") / MB,
        "scoring.python_run_s": lay("scoring", "python_run_ms") / 1000,
        "scoring.links": links,
        "scoring.link_yield": links / pairs if pairs else 0.0,
        "clustering.stage_s": clustering_s,
        "clustering.task_s": lay("clustering", "task_ms") / 1000,
        "clustering.rounds": rounds,
        "clustering.round_s": clustering_s / max(1, rounds),
        "clustering.jobs": w["jobs_by_layer"].get("clustering", 0),
        "dedup.self_s": root - children if root else 0.0,
        "driver.jobs": w["jobs"],
        "driver.idle_s": w["idle_s"],
        "spark.spill_mb": w["spill"] / MB,
        "cpu.jvm_s": extra["cpu"]["jvm"],
        "cpu.python_s": extra["cpu"]["python"],
        "trace.wall_s": wall,
        "trace.residual_s": wall - serial,
    }
