"""Spans around the engine's public calls, recorded from the benchmark.

A disabled tracer does nothing: spans are no-ops and no function is
patched, so the untraced run measures the engine as users call it. An
enabled tracer

- patches module attributes (including names a module imported from
  another, e.g. ``pipeline.pnls.pathology_extract``) with timing wrappers;
- gives every span its own Spark job group, so the event log can charge
  eager jobs to the layer that launched them; spans of kind ``build``
  additionally mark their jobs as launched during plan building.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.eventlog import GROUP_PROP

KIND_PROP = "perfbench.kind"
JOB_PROP = "perfbench.job"


def is_timed(props: dict) -> bool:
    """Whether a Spark job (by its properties) ran inside a timed job."""
    return props.get(JOB_PROP) is not None


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, kind: str = "exec"):
        if not self.enabled:
            yield
            return
        sc = self.sc
        prev_group = sc.getLocalProperty(GROUP_PROP)
        prev_kind = sc.getLocalProperty(KIND_PROP)
        sc.setLocalProperty(GROUP_PROP, name)
        # a job launched anywhere under a build call is a build job
        sc.setLocalProperty(KIND_PROP, "build" if prev_kind == "build" else kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            sc.setLocalProperty(GROUP_PROP, prev_group)
            sc.setLocalProperty(KIND_PROP, prev_kind)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, module, attr: str, name: str, kind: str = "build", on_call=None):
        """Replace ``module.attr`` with a spanned wrapper; ``on_call`` sees
        the call's arguments (for counters such as rules compiled)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            with self.span(name, kind):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)

    @contextmanager
    def job(self, label: str):
        """Tag every Spark job of one benchmark job with its index so the
        event-log parser can keep only timed jobs."""
        if not self.enabled:
            yield
            return
        self.sc.setLocalProperty(JOB_PROP, label)
        try:
            with self.span("job", kind="exec"):
                yield
        finally:
            self.sc.setLocalProperty(JOB_PROP, None)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of ``df``'s query, read
    from its QueryPlanningTracker after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
