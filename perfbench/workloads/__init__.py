"""The benchmark's workloads, by name.

A workload supplies the calls the harness makes, in this order:
``prepare(dir)`` (generate and write the inputs; repeated for the
set-up median), ``build()`` (derived serving state, once),
``warmup()``, then per measured phase
``start_phase()`` and per operation ``offer(i)`` → (payload, input
rows), ``operate(payload, i, tracer)`` (the timed call) and
``check(i, result)``. ``layers(tracer, phase)`` summarizes the traced
phase, ``same_result(a, b)`` compares an untraced and a traced result,
and ``traced_ops`` fixes the operation count of a traced run.
"""

from __future__ import annotations

from .nfl_pressure import NflPressure
from .serve_hybrid import ServeHybrid
from .stream_ingest import StreamIngest

WORKLOADS = {w.name: w for w in
             (NflPressure, StreamIngest, ServeHybrid)}
