"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files: around the calls it makes
into each engine layer, and around public engine methods it wraps in place
(``Recorder.wrap``) for calls the engine makes internally, such as the
``ParquetTable.merge`` calls inside ``MedallionPipeline.run``. Nothing in the
engine package is edited.

Each span carries a name, start, end and its parent span; spans opened on
one thread nest. Spark work is attributed with job groups: a span sets its
own group while it is open, so every Spark job it starts is filed under it,
and the job/stage/task counts are resolved from ``statusTracker()`` once the
run ends (the status listener is asynchronous, so counting at span end
would miss jobs still being posted).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    req: int | None = None  # request the span served, when there is one
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans. Disabled, every hook is a pass-through."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None if sid is None else f"pb-{sid}")

    def start(self, name: str, req: int | None = None) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, parent, time.perf_counter(), req=req))
            if parent is not None:
                self.spans[parent].children.append(sid)
        stack.append(sid)
        self._set_group(sid)
        return sid

    def stop(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid].end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1] if stack else None)

    def span(self, name: str, req: int | None = None):
        rec = self

        class _Ctx:
            def __enter__(self):
                self.sid = rec.start(name, req)
                return self

            def __exit__(self, *exc):
                rec.stop(self.sid)
                return False

        return _Ctx()

    # ----------------------------------------------------------- wrapping
    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version until ``unwrap``."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            sid = rec.start(name)
            try:
                return orig(*args, **kwargs)
            finally:
                rec.stop(sid)

        self.patch(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ results
    def resolve_spark_counts(self, settle_s: float = 1.0) -> None:
        """Fill each span's own job/stage/task counts from its job group."""
        if self.sc is None or not self.spans:
            return
        time.sleep(settle_s)  # let the status listener drain its queue
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            for jid in tracker.getJobIdsForGroup(f"pb-{sp.sid}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for st in info.stageIds:
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None:
                        sp.stages += 1
                        sp.tasks += sinfo.numTasks

    def _inclusive(self, sid: int, attr: str) -> int:
        sp = self.spans[sid]
        return getattr(sp, attr) + sum(self._inclusive(c, attr) for c in sp.children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end > 0]

    def total_s(self, name: str) -> float:
        """Summed duration of the named spans, outermost occurrences only
        (a wrapped method that calls itself is not counted twice)."""
        ids = {s.sid for s in self.by_name(name)}
        return sum(s.dur for s in self.by_name(name) if s.parent not in ids)

    def self_s(self, name: str) -> float:
        """Summed self time: each span's duration minus its children's."""
        out = 0.0
        for s in self.by_name(name):
            out += s.dur - sum(self.spans[c].dur for c in s.children if self.spans[c].end > 0)
        return out

    def spark(self, name: str, attr: str) -> int:
        """Inclusive job/stage/task count of the named spans."""
        ids = {s.sid for s in self.by_name(name)}
        return sum(self._inclusive(s.sid, attr) for s in self.by_name(name) if s.parent not in ids)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (written once, at the end)."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "req": s.req,
                    "start": s.start, "end": s.end, "spark_jobs": s.jobs,
                    "spark_stages": s.stages, "spark_tasks": s.tasks,
                }) + "\n")


def file_sizes(root: str) -> dict[str, int]:
    """Path → size of every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # vacuumed while walking
                pass
    return out


def dir_stats(root: str) -> dict[str, int]:
    """File count and total bytes under ``root``."""
    sizes = file_sizes(root)
    return {"files": len(sizes), "bytes": sum(sizes.values())}
