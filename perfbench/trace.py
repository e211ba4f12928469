"""Measurement plumbing: spans, timed wrappers, Spark stage accounting and
process memory.

* :class:`Tracer` keeps spans ``(name, start, end, parent, request)`` in
  memory and writes them out once, at the end of a run.  Leaf calls that
  happen hundreds of thousands of times (a tokenizer count) are folded
  into their parent span as ``(calls, busy seconds)`` instead of one span
  each; a span's self time is its duration minus its children's time.
* :class:`TimedTokenizer` / :func:`timed_splitter` wrap the tokenizer and
  sentence splitter handed to ``split_text_into_chunks`` through its
  public ``tokenizer=`` and ``sentence_splitter=`` parameters.
* :func:`spark_job_stats` reads Spark's own accounting for a job group
  from the application status store (it works with the UI disabled).
* :func:`peak_rss` reads ``VmHWM`` of this process and every descendant
  (the JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    #: folded leaf calls: name → [calls, busy seconds]
    leaves: dict = field(default_factory=dict)
    #: counts recorded at this boundary (rows, chunks, ...)
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(name, time.perf_counter(), parent=parent, request=request)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def leaf(self, name: str, seconds: float) -> None:
        """Fold one leaf call into the innermost open span."""
        if self.enabled and self._stack:
            acc = self.spans[self._stack[-1]].leaves.setdefault(name, [0, 0.0])
            acc[0] += 1
            acc[1] += seconds

    # -- derived figures ---------------------------------------------------
    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(i)
        return kids

    def total(self, name: str) -> float:
        return sum(sp.end - sp.start for sp in self.spans if sp.name == name)

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def self_time(self, name: str) -> float:
        """Σ over spans called ``name`` of duration − child spans − folded
        leaf calls."""
        kids = self._children()
        out = 0.0
        for i, sp in enumerate(self.spans):
            if sp.name != name:
                continue
            covered = sum(
                self.spans[k].end - self.spans[k].start for k in kids.get(i, ())
            )
            covered += sum(busy for _, busy in sp.leaves.values())
            out += (sp.end - sp.start) - covered
        return out

    def leaf_totals(self, name: str) -> tuple[int, float]:
        calls, busy = 0, 0.0
        for sp in self.spans:
            c, b = sp.leaves.get(name, (0, 0.0))
            calls += c
            busy += b
        return calls, busy

    def count(self, key: str) -> int:
        return sum(sp.counts.get(key, 0) for sp in self.spans)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "request": sp.request,
                            "leaves": sp.leaves,
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


class TimedTokenizer:
    """Tokenizer wrapper that times ``count``/``truncate`` as leaf calls
    and tallies tokens counted."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.tokens = 0
        self.truncate_calls = 0

    def count(self, text: str) -> int:
        t0 = time.perf_counter()
        n = self._inner.count(text)
        self._tracer.leaf("tokenizer.count", time.perf_counter() - t0)
        self.tokens += n
        return n

    def truncate(self, text: str, max_tokens: int) -> str:
        t0 = time.perf_counter()
        out = self._inner.truncate(text, max_tokens)
        self._tracer.leaf("tokenizer.truncate", time.perf_counter() - t0)
        self.truncate_calls += 1
        return out

    def cache_hit_ratio(self) -> float:
        info = getattr(self._inner.count, "cache_info", None)
        if info is None:
            return 0.0
        ci = info()
        return ci.hits / max(1, ci.hits + ci.misses)


def timed_splitter(inner, tracer: Tracer, tally: dict):
    def split(text: str) -> list[str]:
        t0 = time.perf_counter()
        out = inner(text)
        tracer.leaf("sentences.split_sentences", time.perf_counter() - t0)
        tally["sentences"] = tally.get("sentences", 0) + len(out)
        return out

    return split


# ---------------------------------------------------------------------------
# Spark's own accounting
# ---------------------------------------------------------------------------


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_job_stats(sc, group: str) -> dict:
    """Jobs, tasks, executor run/CPU/GC time, shuffle bytes, input rows and
    task skew (slowest ÷ median task) for the jobs of ``group``, read from
    the application status store."""
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    no_status = jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(jvm.double, 0)
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    out = {
        "jobs": len(job_ids),
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "input_records": 0,
        "task_skew": 0.0,
    }
    durations: list[int] = []
    seen: set[int] = set()
    for j in job_ids:
        stage_ids = store.job(j).stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_records"] += sd.inputRecords()
                tasks = store.taskList(sid, sd.attemptId(), 1_000_000)
                for t in range(tasks.size()):
                    d = tasks.apply(t).duration()
                    if d.isDefined():
                        durations.append(d.get())
    if durations:
        med = statistics.median(durations)
        out["task_skew"] = max(durations) / med if med > 0 else 0.0
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def proc_tree(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss(root: int | None = None) -> dict[str, list[float]]:
    """VmHWM (peak resident set, MB) of ``root`` and each descendant,
    grouped by command name (this process ``python3``, the JVM ``java``, the
    Python workers)."""
    out: dict[str, list[float]] = {}
    for pid in proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            mb = int(fields["VmHWM"].split()[0]) / 1024.0
            out.setdefault(fields["Name"].strip(), []).append(mb)
    return out
