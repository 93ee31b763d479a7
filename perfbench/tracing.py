"""Spans around the calls into the engine, and per-op Spark stage metrics.

An op is one benchmark operation (for example ``engine.encode`` over an
input followed by its parquet write).  Its span tree is

    op (root) -> input | call | action -> stage

``input`` plans the input DataFrame, ``call`` is the public engine call
(for ``decode`` this includes its eager probe jobs), and ``action`` is the
write or the verifying aggregate.  Every layer runs under its own Spark
job group, so the jobs it launched, and their stages, are read back from
the driver's status store after the op has ended.  Stage spans use the
status store's submission and completion times.

A layer's self time is its span's duration minus the part covered by its
child spans; the root's self time is the op's unattributed remainder.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("input", "call", "action")
STAGE_SUMS = {   # metric -> (StageData getter, scale to the metric unit)
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "task_failures": ("numFailedTasks", 1),
}
SELF_TIMES = ("unattributed_s", "input_self_s", "call_self_s",
              "action_self_s", "stage_s")


@dataclass
class Span:
    op: int
    id: str
    parent: str | None
    name: str
    start_ns: int
    end_ns: int
    attrs: dict = field(default_factory=dict)


def covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Op:
    """One timed operation; use as a context manager, then read
    ``wall_s`` and, when traced, ``layers`` (per-layer metrics)."""

    def __init__(self, tracer: "Tracer", kind: str, op_id: int):
        self.tracer, self.kind, self.id = tracer, kind, op_id
        self.traced = tracer.enabled
        self.children: dict[str, tuple[int, int]] = {}
        self.layers: dict[str, float] = {}
        self.wall_s = 0.0

    def group(self, layer: str) -> str:
        return f"perfbench-{self.id}-{layer}"

    @contextmanager
    def layer(self, name: str):
        if self.traced:
            self.tracer.sc.setJobGroup(self.group(name),
                                       f"{self.kind} {name}", False)
        t0 = time.time_ns()
        try:
            yield
        finally:
            self.children[name] = (t0, time.time_ns())

    def __enter__(self):
        self.start_ns = time.time_ns()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.end_ns = time.time_ns()
        if self.traced:
            self.tracer.sc.setJobGroup("perfbench-idle", "idle", False)
            self.tracer.finish(self)
        return False


class Tracer:
    """Creates ops; when ``enabled``, records their spans and metrics."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0

    def op(self, kind: str) -> Op:
        self._next += 1
        return Op(self, kind, self._next)

    def _stages(self, wanted: dict[int, str]) -> list[tuple[str, object]]:
        """(layer, StageData) of every run attempt of the wanted stages."""
        jsc = self.sc._jsc.sc()
        # stage completion events reach the status store asynchronously
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        empty = self.sc._jvm.java.util.ArrayList
        it = store.stageList(empty(), False, False,
                             getattr(store, "stageList$default$4")(),
                             empty()).iterator()
        lowest = min(wanted, default=0)
        out = []
        while it.hasNext():           # newest stage first
            s = it.next()
            sid = s.stageId()
            if sid < lowest:
                break
            if sid in wanted and s.submissionTime().isDefined():
                out.append((wanted[sid], s))
        return out

    def finish(self, op: Op) -> None:
        st = self.sc.statusTracker()
        wanted: dict[int, str] = {}
        jobs: dict[str, int] = {}
        for name in op.children:
            ids = st.getJobIdsForGroup(op.group(name))
            jobs[name] = len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    wanted[int(sid)] = name
        root = f"{op.id}"
        self.spans.append(Span(op.id, root, None, op.kind, op.start_ns,
                               op.end_ns, {"wall_s": op.wall_s}))
        for name, (a, b) in op.children.items():
            self.spans.append(Span(op.id, f"{root}.{name}", root, name, a, b,
                                   {"jobs": jobs[name]}))
        m = {k: 0.0 for k in STAGE_SUMS}
        per_layer: dict[str, list[tuple[int, int]]] = {n: [] for n in LAYERS}
        for name, s in self._stages(wanted):
            a = s.submissionTime().get().getTime() * 1_000_000
            b = (s.completionTime().get().getTime() * 1_000_000
                 if s.completionTime().isDefined() else op.end_ns)
            per_layer[name].append((a, b))
            attrs = {k: getattr(s, g)() * scale
                     for k, (g, scale) in STAGE_SUMS.items()}
            for k in STAGE_SUMS:
                m[k] += attrs[k]
            attrs["status"] = s.status().toString()
            self.spans.append(Span(op.id, f"{root}.s{s.stageId()}."
                                   f"{s.attemptId()}", f"{root}.{name}",
                                   "stage", a, b, attrs))
        all_stages = [iv for ivs in per_layer.values() for iv in ivs]
        stage_ns = covered(all_stages, op.start_ns, op.end_ns)
        wall_ns = op.end_ns - op.start_ns
        m.update(
            call_s=_dur(op.children.get("call")),
            jobs=sum(jobs.values()),
            probe_jobs=jobs.get("call", 0),
            stages=len(all_stages),
            driver_gap_s=(wall_ns - stage_ns) / 1e9,
            stage_s=stage_ns / 1e9,
            unattributed_s=(wall_ns - sum(b - a for a, b in
                                          op.children.values())) / 1e9)
        for name in LAYERS:
            iv = op.children.get(name)
            m[f"{name}_self_s"] = (
                0.0 if iv is None
                else _dur(iv) - covered(per_layer[name], *iv) / 1e9)
        op.layers = m

    def write_spans(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _dur(iv: tuple[int, int] | None) -> float:
    return 0.0 if iv is None else (iv[1] - iv[0]) / 1e9
