"""Spans, Spark status-store deltas and the traced-run hooks.

Spans are recorded from the benchmark's own files, around the calls it
makes into the program (and, in the traced run, around the module-level
names ``agent.workflow`` and ``agent.rca`` call). They stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    """Nested spans: (name, start, end, parent index, op id).

    A disabled tracer records nothing and costs one attribute test per
    span, so the untraced runs share the code path of the traced ones.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.counts: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def _child_time(self) -> dict[int, float]:
        child: dict[int, float] = defaultdict(float)
        for _name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        return child

    def totals(self) -> dict[str, dict[str, float]]:
        """{name: {"n", "total_s", "self_s"}}; self time is the span's
        duration minus the durations of its direct children (spans
        nest, so children never overlap)."""
        child = self._child_time()
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if end is None:
                continue
            rec = out[name]
            rec["n"] += 1
            rec["total_s"] += end - start
            rec["self_s"] += end - start - child[i]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [
            end - start
            for n, start, end, _p, _o in self.spans
            if n == name and end is not None
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "name": n,
                            "start": s,
                            "end": e,
                            "parent": p,
                            "op": o,
                        }
                        for n, s, e, p, o in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                f,
            )


class SparkCounters:
    """Per-op deltas read from Spark's core status store, which is kept
    even with ``spark.ui.enabled=false``. Each op runs under its own job
    group; its stages are the ones created since the previous op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._last_stage = self._max_stage_id()
        self.ops = 0
        self.totals: dict[str, float] = defaultdict(float)

    def reset(self) -> None:
        """Forget the requests measured so far (the warm-up's)."""
        self.ops = 0
        self.totals.clear()

    def _stages(self):
        seq = self.store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    @contextlib.contextmanager
    def op(self, op_id: int):
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(group, wall)

    def _collect(self, group: str, wall: float) -> None:
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        new = [s for s in self._stages() if s.stageId() > self._last_stage]
        if new:
            self._last_stage = max(s.stageId() for s in new)
        t = self.totals
        self.ops += 1
        t["jobs"] += len(jobs)
        t["wall_s"] += wall
        for s in new:
            t["tasks"] += s.numTasks()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            t["run_ms"] += s.executorRunTime()

    def metrics(self, cores: int) -> dict[str, float]:
        t, n = self.totals, max(self.ops, 1)
        busy = t["run_ms"] / 1000.0 / max(t["wall_s"] * cores, 1e-9)
        return {
            "spark.jobs_per_op": t["jobs"] / n,
            "spark.tasks_per_op": t["tasks"] / n,
            "spark.shuffle_write_bytes_per_op": t["shuffle_write_bytes"] / n,
            "spark.spill_bytes_per_op": t["spill_bytes"] / n,
            "spark.executor_busy_frac": busy,
        }


class TracingPlanner:
    """Wraps the ``Planner`` seam of ``agent.workflow``."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def generate_cypher(self, question, schema):
        with self._tracer.span("agent.planner.generate"):
            return self._inner.generate_cypher(question, schema)

    def correct_cypher(self, question, cypher, errors, schema):
        with self._tracer.span("agent.planner.correct"):
            return self._inner.correct_cypher(question, cypher, errors, schema)

    def synthesize_answer(self, question, records):
        with self._tracer.span("agent.planner.synthesize"):
            return self._inner.synthesize_answer(question, records)


def _wrapped(fn, tracer: Tracer, name: str):
    def inner(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return inner


def traced_workflow(fn, tracer: Tracer):
    """``run_agent_workflow`` as one ``agent.workflow`` span, counting
    from the returned state whether the answer was executed and how
    many correction rounds it took."""

    def inner(state, graph, planner=None):
        with tracer.span("agent.workflow"):
            out = fn(state, graph, planner)
        steps = out.get("steps", [])
        tracer.count("questions")
        tracer.count("executed", "execute_cypher" in steps)
        tracer.count("correction_rounds", steps.count("correct_cypher"))
        return out

    return inner


def install_agent_hooks(tracer: Tracer) -> None:
    """Rebind the names ``agent.workflow`` and ``agent.rca`` call, so
    the traced run records parse, direction correction and compile as
    spans, counts value probes, and records each RCA sub-question as a
    workflow span. The package code itself is unchanged; untraced runs
    never call this."""
    from project_graphdb_spark.agent import rca, workflow

    for attr, name in (
        ("parse", "cypher.parser.parse"),
        ("correct_directions", "cypher.corrector.correct"),
        ("compile_cypher", "cypher.compiler.compile"),
    ):
        setattr(workflow, attr, _wrapped(getattr(workflow, attr), tracer, name))
    probe = workflow._probe_value_exists

    def counted_probe(*args, **kwargs):
        tracer.count("value_probes")
        return probe(*args, **kwargs)

    workflow._probe_value_exists = counted_probe
    rca.run_agent_workflow = traced_workflow(rca.run_agent_workflow, tracer)
