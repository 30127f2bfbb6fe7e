"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: around each op it issues
and, through ``Tracer.wrap``, around public entry points of the program,
patched at the name the calling module looks them up by. Spark's own
counters are attributed to spans afterwards: every job, stage and SQL
execution in the core and SQL status stores is assigned to the innermost
span that was open when it was submitted. The loop is closed, so spans of
different ops never overlap.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    value: object = None
    jobs: list = field(default_factory=list)
    execs: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory spans plus the patches that create them. ``enabled`` (off
    until a traced pass starts) toggles recording without removing the
    patches, so a traced run can alternate traced and untraced passes to
    measure its own overhead. Wrapped calls made from the streaming callback
    thread nest under the client's open op span: the client is blocked in
    that span while the batch runs."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time() * 1000.0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = original(*args, **kwargs)
                if s is not None:
                    s.value = out
                return out

        self._patches.append((module, attr, original))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def attribute(self, spark) -> None:
        """Assign every job and SQL execution in the status stores to the
        innermost span open at its submission time."""
        jvm = spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        core = spark.sparkContext._jsc.sc().statusStore()
        sql = spark._jsparkSession.sharedState().statusStore()
        order = sorted(range(len(self.spans)), key=lambda i: -self.spans[i].start_ms)

        def owner(t_ms: float) -> Span | None:
            # latest-started span containing t is the innermost one
            for i in order:
                s = self.spans[i]
                if s.start_ms <= t_ms <= s.end_ms:
                    return s
            return None

        for j in conv.asJava(core.jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            s = owner(float(sub.get().getTime()))
            if s is None:
                continue
            end = float(done.get().getTime()) if done.isDefined() else s.end_ms
            stages = []
            for sid in conv.asJava(j.stageIds()):
                try:
                    st = core.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": st.numTasks(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "output_bytes": st.outputBytes(),
                })
            s.jobs.append({"start": float(sub.get().getTime()), "end": end,
                           "stages": stages})
        for e in conv.asJava(sql.executionsList()):
            s = owner(float(e.submissionTime()))
            if s is None:
                continue
            vals = conv.asJava(sql.executionMetrics(e.executionId()))
            nodes = []
            for n in conv.asJava(sql.planGraph(e.executionId()).allNodes()):
                ms = {}
                for m in conv.asJava(n.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v is not None:
                        ms[m.name()] = parse_metric(v)
                nodes.append((n.name(), n.desc(), ms))
            s.execs.append(nodes)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it -> number (bytes,
    seconds or a count). Multi-task metrics read 'total (min, ...)\\n<total>
    (...)'; the total is taken."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree(tracer: Tracer, root: Span) -> list[Span]:
    """``root`` and every span nested under it."""
    idx = {id(s): i for i, s in enumerate(tracer.spans)}
    members = {idx[id(root)]}
    for i, s in enumerate(tracer.spans):
        if s.parent in members:
            members.add(i)
    return [tracer.spans[i] for i in sorted(members)]


def span_counters(tracer: Tracer, root: Span) -> dict[str, float]:
    """Spark work done under ``root``: jobs, tasks, shuffle and spill bytes,
    driver gap (wall minus the time covered by its jobs) and per-node-kind
    SQL counters."""
    spans = subtree(tracer, root)
    jobs = [j for s in spans for j in s.jobs]
    stages = [st for j in jobs for st in j["stages"]]
    c: dict[str, float] = defaultdict(float)
    c["jobs"] = len(jobs)
    c["tasks"] = sum(st["tasks"] for st in stages)
    c["shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)
    c["spill_bytes"] = sum(st["spill"] for st in stages)
    c["output_bytes"] = sum(st["output_bytes"] for st in stages)
    busy = covered_ms([(j["start"], j["end"]) for j in jobs])
    c["driver_gap_s"] = max(0.0, root.seconds - busy / 1000.0)
    for s in spans:
        for nodes in s.execs:
            for name, desc, ms in nodes:
                rows = ms.get("number of output rows", 0.0)
                if name.startswith("Scan"):
                    c["scan_rows"] += rows
                    c["files_read"] += ms.get("number of files read", 0.0)
                    if "documents.parquet" in desc:
                        c["documents_rows_scanned"] += rows
                if "Join" in name or name in ("CartesianProduct",):
                    c["join_rows_out"] += rows
                if any(k in name for k in ("Arrow", "Pandas", "BatchEvalPython", "Python")):
                    c["python_rows"] += rows
                    c["python_bytes"] += ms.get("data sent to Python workers", 0.0)
                    c["python_bytes"] += ms.get("data returned from Python workers", 0.0)
    return c
