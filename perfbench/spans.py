"""Spans recorded from the benchmark's side of each layer boundary.

A span wraps one public function at the name its caller looks up
(module attribute or class method) and is restored afterwards.  Each
span also sets Spark's job description to its own label, so the
stages and SQL executions a span starts carry that label in the
status stores.  Spans are kept in memory and written out once.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    label: str          # "<name>#<index>", also the Spark job description
    name: str
    start: float
    end: float = 0.0
    parent: str = ""
    run_id: str = ""
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{name}#{len(self.spans)}", name, time.perf_counter(),
                 parent=parent.label if parent else "", run_id=self.run_id)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(s.label)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(parent.label if parent else None)

    def wrap(self, target: str, name: str) -> None:
        """Wrap ``module.attr`` or ``module.Class.attr`` in a span."""
        mod_name, _, attr = target.rpartition(".")
        try:
            owner = importlib.import_module(mod_name)
        except ModuleNotFoundError:  # "module.Class"
            mod_name, _, cls = mod_name.rpartition(".")
            owner = getattr(importlib.import_module(mod_name), cls)
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, *names: str) -> float:
        return sum(s.duration for n in names for s in self.named(n))

    def self_total(self, *names: str) -> float:
        return sum(s.self_s for n in names for s in self.named(n))

    def labels(self, *names: str) -> set[str]:
        return {s.label for n in names for s in self.named(n)}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"label": s.label, "name": s.name, "start": s.start,
                        "end": s.end, "parent": s.parent, "run_id": s.run_id}
                       for s in self.spans], f, indent=1)
