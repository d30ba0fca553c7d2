"""Spans around the benchmark's calls into each engine layer.

A span is a named, timed region with its own Spark job group, so every
job Spark runs inside it is tagged with the innermost open span. After
a pass, :meth:`Tracer.collect` reads each group's jobs and stages from
Spark's status store and folds them into per-span statistics. Spans are
kept in memory and reduced when the benchmark ends; nothing in the
engine is changed.

Layers the benchmark does not call directly are reached by wrapping the
public function where its caller imported it (``plans.pipeline``'s
``count_problematic``, ``operators.corpus``'s ``minhash_lsh_dedup``,
...). :meth:`Tracer.unpatch` puts every original back; ``run.py``
checks that it did.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    t0: float = 0.0
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)
    # filled by Tracer.collect, inclusive of descendants
    jobs: int = 0
    stages: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        """Wall not covered by child spans (children never overlap)."""
        return self.wall_s - sum(c.wall_s for c in self.children)


class NullTracer:
    """The untraced run: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Spans record only while ``active``; wrappers stay installed but
    pass straight through otherwise, so untraced passes of a traced run
    make the same calls."""

    def __init__(self, spark):
        self.active = False
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._roots: list[Span] = []
        self._n = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"perfbench-{self._n}", parent)
        (parent.children if parent else self._roots).append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name, False)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs in a span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def unpatch(self) -> list[str]:
        """Restore every wrapped attribute; return any left unrestored."""
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        left = [
            f"{module.__name__}.{attr}"
            for module, attr, original in self._patched
            if getattr(module, attr) is not original
        ]
        self._patched.clear()
        return left

    def collect(self) -> list[Span]:
        """Fold the status store's job and stage data into the spans
        recorded since the last call, and hand back their roots."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        seen: set[int] = set()  # a stage shared by two jobs ran once

        def fold(sp: Span) -> None:
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                sp.jobs += 1
                for stage_id in info.stageIds if info else ():
                    st = store.lastStageAttempt(stage_id)
                    if stage_id in seen or st.status().toString() == "SKIPPED":
                        continue
                    seen.add(stage_id)
                    sp.stages += 1
                    sp.shuffle_write_bytes += st.shuffleWriteBytes()
                    sp.spill_bytes += st.diskBytesSpilled()
            for child in sp.children:
                fold(child)
                sp.jobs += child.jobs
                sp.stages += child.stages
                sp.shuffle_write_bytes += child.shuffle_write_bytes
                sp.spill_bytes += child.spill_bytes

        roots, self._roots = self._roots, []
        for sp in roots:
            fold(sp)
        return roots


def walk(spans: list[Span]):
    for sp in spans:
        yield sp
        yield from walk(sp.children)
