"""How a pass calls into the package: plainly, or traced.

A workload's pass routes every public call through ``call(name, fn,
*args, plan_of=None)``.  The untraced run passes ``plain_call``, which
adds nothing.  The traced run passes a ``Trace``, which puts a span and
a job group around the call and reads the call's Spark counters.
"""

from __future__ import annotations

import time

from .spark_counters import Counters, drain
from .tracing import Tracer


def plain_call(name, fn, *args, plan_of=None):
    return fn(*args)


class Trace:
    def __init__(self, spark, run_id: str):
        self.tracer = Tracer(run_id)
        self.counters = Counters(spark, run_id)

    def __call__(self, name, fn, *args, plan_of=None):
        with self.tracer.span(name):
            result, _ = self.counters.call(name, fn, *args, plan_of=plan_of)
        return result

    def span_id(self, name: str) -> int:
        """Id of the latest span called *name*."""
        return max(s.span_id for s in self.tracer.spans if s.name == name)

    def prefix(self, name, build, parent: int, reps: int = 3) -> int:
        """Run the plan prefix ``build()`` of layer *parent* to completion
        as its own call, *reps* times, and record the median run as that
        layer's child span.  Each run plans a fresh Dataset: draining one
        Dataset twice would reuse its shuffle output.  A prefix is
        differenced against its parent, so one slow run would show up as
        a negative self time elsewhere.  Returns the new span id."""
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.counters.call(name, _drained, build, plan_of=lambda r: r[0])
            runs.append((time.perf_counter() - t0, t0))
        wall, t0 = sorted(runs)[reps // 2]
        return self.tracer.record(name, t0, t0 + wall, parent)


def _drained(build):
    df = build()
    return df, drain(df)
