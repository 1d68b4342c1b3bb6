"""In-memory spans around the engine's public functions (traced runs only).

``Tracer.install()`` wraps every public function defined in the traced
modules and rebinds each reference to it that the package's modules hold
(``from x import f`` copies included), so calls made inside the engine are
seen too.  ``uninstall()`` puts the originals back.  Nothing in the
engine's source changes.

A span records name, module, start, end, parent and the operation it ran
under.  Scheduler work is attributed after the fact: each job belongs to
the innermost span open when the job was submitted.  Lazy functions (most
DataFrame builders) return before any job runs, so their spans cover
driver-side planning only; the action that executes the plan is the
operation's sink span.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from status_counters import Job, Totals, Window


@dataclass
class Span:
    id: int
    name: str
    module: str
    op: str | None
    parent: int | None
    depth: int
    start: float
    start_ms: float
    end: float = 0.0
    end_ms: float = 0.0
    jobs: list[Job] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, package: str, modules: list):
        self.package = package
        self.modules = modules
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, module: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, module, self.op,
            parent.id if parent else None, len(self._stack),
            time.perf_counter(), time.time() * 1000.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end, s.end_ms = time.perf_counter(), time.time() * 1000.0
            self._stack.pop()

    def _wrap(self, fn, module: str):
        name = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, module):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for mod in self.modules:
            short = mod.__name__[len(self.package) + 1:]
            for attr, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and not attr.startswith("_")
                    and obj.__module__ == mod.__name__
                ):
                    wrappers[id(obj)] = self._wrap(obj, short)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == self.package or name.startswith(self.package + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()

    def attribute(self, window: Window) -> None:
        """Give each job to the innermost span open at its submission."""
        for job in window.jobs:
            best = None
            for s in self.spans:
                if s.start_ms <= job.submit_ms <= s.end_ms and (
                    best is None or s.depth > best.depth
                ):
                    best = s
            if best is not None:
                best.jobs.append(job)

    @staticmethod
    def _jobs_within(s: Span, window: Window) -> bool:
        return any(s.start_ms <= j.submit_ms <= s.end_ms for j in window.jobs)

    def table(self, window: Window) -> list[dict]:
        """Per-function rows: calls, total and self seconds, and the
        scheduler work submitted while the function itself was innermost.
        ``planning_only`` marks functions during which no job ran at all."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(
                s.name,
                {"name": s.name, "module": s.module, "calls": 0, "total_s": 0.0,
                 "self_s": 0.0, "_jobs": []},
            )
            r["calls"] += 1
            r["total_s"] += s.dur
            r["self_s"] += s.dur - child_time.get(s.id, 0.0)
            r["_jobs"].extend(s.jobs)
        ran_jobs = {s.name for s in self.spans if self._jobs_within(s, window)}
        out = []
        for r in rows.values():
            t: Totals = window.totals(r.pop("_jobs"))
            r.update(
                jobs=t.jobs, tasks=t.tasks, shuffle_write_bytes=t.shuffle_write_bytes,
                planning_only=r["name"] not in ran_jobs,
            )
            out.append(r)
        return sorted(out, key=lambda r: -r["self_s"])
