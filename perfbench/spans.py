"""Outside-in span tracer for the traced benchmark run.

The tracer patches public entry points of the engine's layers for the life
of one traced run, and restores them afterwards.  It edits no engine file:
each patched attribute is replaced by a wrapper that opens a span around
the original call.

A span records its name, start, end, parent span, the pass and wave it ran
in, and attributes the wrapper derives from the call (for example the
table a snapshot stage wrote).  Each span sets its own Spark job group, so
after a pass the job, stage and task counts of every span are read back
from ``SparkContext.statusTracker()``.  Spans stay in memory until the run
writes them out at the end.

A span's self time is its duration minus the durations of its child spans.
Child spans run in the same thread as their parent and never overlap, so the
sum of child durations is the time they cover.
"""

from __future__ import annotations

import contextlib
import inspect
import itertools
import json
import time
from typing import Any, Callable

_GROUP = "perfbench-span-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patched: list[tuple[Any, str, Any]] = []
        self.pass_id: str | None = None
        self.wave: int | None = None

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "wave": self.wave,
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(f"{_GROUP}{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{_GROUP}{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    # -- patching ------------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        attrs: Callable[[dict], dict] | None = None,
        on_result: Callable[[dict, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.  ``attrs`` maps the
        call's bound arguments to span attributes; ``on_result`` may add
        attributes from the return value."""
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        tracer = self

        def wrapper(*args, **kwargs):
            extra = attrs(sig.bind(*args, **kwargs).arguments) if attrs else {}
            with tracer.span(name, **extra) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch(self, owner: Any, attr: str, replacement: Callable) -> Any:
        """Install an arbitrary replacement; returns the original."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, replacement)
        return orig

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- Spark counts ----------------------------------------------------------
    def read_counts(self) -> None:
        """Attach each finished span's own job/stage/task counts (jobs run
        while it was the innermost span).  Called after a pass, when the
        status store has caught up with the pass's last job."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            jobs = list(st.getJobIdsForGroup(f"{_GROUP}{rec['id']}"))
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None:  # None: skipped (reused) stage
                        stages += 1
                        tasks += sinfo.numCompletedTasks
            rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    # -- derived ---------------------------------------------------------------
    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_time(self, rec: dict, kids: dict[int, list[dict]]) -> float:
        dur = rec["end"] - rec["start"]
        return dur - sum(c["end"] - c["start"] for c in kids.get(rec["id"], ()))

    def inclusive(self, rec: dict, key: str, kids: dict[int, list[dict]]) -> int:
        return rec.get(key, 0) + sum(
            self.inclusive(c, key, kids) for c in kids.get(rec["id"], ())
        )

    def descendants(self, rec: dict, kids: dict[int, list[dict]]):
        for c in kids.get(rec["id"], ()):
            yield c
            yield from self.descendants(c, kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")
