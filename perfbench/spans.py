"""Tracing from outside the engine: spans around public calls, Spark job
groups per span, and the event log folded per span.

``Tracer.install`` replaces the public functions of each layer with a
wrapper that opens a span, so a call made anywhere inside the engine is
timed where it enters the layer; ``uninstall`` puts the originals back.
Each span sets its own Spark job group, so every job is attributed to the
innermost span open when it was submitted. Job and task counts come from
``SparkContext.statusTracker()``; task run time, CPU time and shuffle
bytes come from Spark's event log.

Units, as Spark 4 writes them (pinned by ``test_perfbench.py``):
``Executor Run Time`` is milliseconds, ``Executor CPU Time`` is
nanoseconds of the JVM task thread only (Python workers run in their own
processes and are not included), ``Shuffle Bytes Written`` is bytes.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from company_name_matching_spark.operators import (
    blocking, clustering, extract, normalize, scoring, search,
)
from company_name_matching_spark.plans import pipeline
from company_name_matching_spark.sources import store

GROUP_KEY = "spark.jobGroup.id"

# (owner, attribute, span name): the public calls of each layer
TRACED = [
    (pipeline, "run_pipeline", "pipeline.run_pipeline"),
    (extract, "extract_pages", "normalize.extract_pages"),
    (normalize, "normalize_pages", "normalize.normalize_pages"),
    (normalize, "normalize_mentions", "normalize.normalize_mentions"),
    (blocking, "candidate_pairs", "blocking.candidate_pairs"),
    (scoring, "build_idf", "scoring.build_idf"),
    (scoring, "score_pairs", "scoring.score_pairs"),
    (clustering, "cluster_matches", "clustering.cluster_matches"),
    (search, "search_topk", "search.search_topk"),
    (store, "materialize", "store.materialize"),
]


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    group: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory while ``enabled``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.monotonic(), f"perfbench-{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            outer = self.spans[self._stack[-1]].group if self._stack else None
            self.sc.setLocalProperty(GROUP_KEY, outer)

    def install(self) -> None:
        for owner, attr, name in TRACED:
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        self._patch(pipeline._Checkpointer, "run",
                    self._stage_wrapper(pipeline._Checkpointer.run))
        self._patch(pipeline._Checkpointer, "flush_metrics",
                    self._wrap(pipeline._Checkpointer.flush_metrics,
                               "stage.metrics"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    def _patch(self, owner, attr, wrapper) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.attrs["args"] = args
                    if name == "store.materialize":
                        # the barrier's output size, from the files it wrote
                        s.attrs["label"] = args[1] if len(args) > 1 else kwargs.get("label")
                        s.attrs["bytes"] = _files_bytes(out.inputFiles())
            return out

        return traced

    def _stage_wrapper(self, run):
        tracer = self

        @functools.wraps(run)
        def traced(ck, stage, fn, *args, **kwargs):
            with tracer.span(f"stage.{stage}"):
                return run(ck, stage, fn, *args, **kwargs)

        return traced

    # -- queries over the recorded spans ---------------------------------

    def find(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for i in range(idx + 1, len(self.spans)):
            if self.spans[i].parent in out:
                out.append(i)
        return out

    def within(self, idx: int, name: str) -> list[int]:
        return [i for i in self.subtree(idx) if self.spans[i].name == name]

    def job_ids(self, idxs) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted(
            j for i in idxs for j in tracker.getJobIdsForGroup(self.spans[i].group)
        )

    def task_count(self, job_ids) -> int:
        """Tasks launched by these jobs (stages a job skipped because an
        earlier job computed them launch none)."""
        tracker = self.sc.statusTracker()
        total = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    total += stage.numCompletedTasks
        return total


def _files_bytes(paths) -> int:
    total = 0
    for p in paths:
        local = p[len("file:"):] if p.startswith("file:") else p
        try:
            total += Path(local).stat().st_size
        except OSError:
            pass
    return total


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    shuffle_write_bytes: float = 0.0


def read_event_log(log_dir: Path) -> dict[str | None, TaskTotals]:
    """Fold the event log of the one application in ``log_dir`` into task
    totals per job group (``None`` collects jobs outside any group).
    Spark flushes the log when a stage or job ends and when the context
    stops. A rolling log is a directory of ``events_<n>_<app>`` parts,
    read in order."""
    files = sorted(
        (p for p in Path(log_dir).rglob("*") if p.is_file()
         and not p.name.startswith(".") and p.name != "appstatus"),
        key=lambda p: (p.parent, _part_index(p.name)),
    )
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, TaskTotals] = defaultdict(TaskTotals)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = totals[stage_group.get(ev["Stage ID"])]
            t.tasks += 1
            t.run_ms += m.get("Executor Run Time", 0)
            t.cpu_ns += m.get("Executor CPU Time", 0)
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return dict(totals)


def _part_index(name: str) -> int:
    parts = name.removesuffix(".inprogress").split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0


def _lines(files):
    for path in files:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def sum_totals(totals: dict, groups) -> TaskTotals:
    out = TaskTotals()
    for g in groups:
        t = totals.get(g)
        if t is None:
            continue
        out.tasks += t.tasks
        out.run_ms += t.run_ms
        out.cpu_ns += t.cpu_ns
        out.shuffle_write_bytes += t.shuffle_write_bytes
    return out
