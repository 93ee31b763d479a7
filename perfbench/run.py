#!/usr/bin/env python3
"""Layered benchmark of the simdcomp_spark codec engine.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_zipf --seed 1 --seconds 15 \\
        --trace 0

One process drives ``local[<cores / 2>]`` Spark with shuffle partitions
equal to that slot count: each Arrow UDF task keeps a JVM thread and a
Python worker busy at once, so one slot per core oversubscribes the host.
Workloads (why each exists is in BENCHMARK.json):

* ``bulk_zipf``    engine.encode over a JVM parquet scan, write, then
                   engine.decode(reassemble=True); fixed-work controls
                   (noop scan, identity mapInArrow) run every other cycle.
* ``fused_sorted`` engine.encode_files, write, then engine.decode_files.

A run materializes the seed's input and checks it (three times; the median
is ``setup_s``), warms up until round-trip times settle, then runs cycles
(one round trip each) for ``--seconds``.  Every decode is verified against
the input digest and every encode against the size and codec recorded for
the seed; any mismatch or exception counts as a failed op.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` traces every
other cycle (spans, per-op Spark stage metrics from the status store),
runs two round trips through the other engine path (the second one
traced) and, for fused_sorted, the controls; it also times
the codec calls on one core, writes the spans and a self-time table under
``.perfbench_work/trace/``, and reports the per-layer metrics.  The last
line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = {            # name -> (fused engine path, controls in the window)
    "bulk_zipf": (False, True),
    "fused_sorted": (True, False),
}
SETUP_REPS = 3
WARMUP_MIN, WARMUP_MAX, SETTLED = 2, 4, 0.10
TAIL_BEYOND = 10
CODEC_REPS = 3
BATCH_ROWS = 2048        # the engine session's arrow.maxRecordsPerBatch
DRIVER_MEM = "2g"
DEADLINE_S = 170         # a run that hangs fails instead of overrunning

OP_KINDS = ("encode", "decode", "encode_files", "decode_files")
OP_METRICS = {           # per-op layer metric -> unit
    "call_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "driver_gap_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "input_bytes": "bytes",
    "output_bytes": "bytes", "task_failures": "count",
    "unattributed_s": "s", "input_self_s": "s", "call_self_s": "s",
    "action_self_s": "s", "stage_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(run_dir: Path, native_dir: Path) -> None:
    """Pin everything the engine or Spark reads from the environment, so
    the run does not depend on the caller's shell and writes only under
    the checkout; workers import the package from any working dir."""
    for k in [k for k in os.environ
              if k.startswith("SIMDCOMP_") or k == "SPARK_LOCAL_DIRS"]:
        del os.environ[k]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        # every JVM the launch starts: no /tmp/hsperfdata, temp files here
        JAVA_TOOL_OPTIONS=shlex.join([
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"]),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SIMDCOMP_NATIVE_DIR=str(native_dir),
        SIMDCOMP_SCRATCH=str(run_dir / "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "--conf", f"spark.hadoop.hadoop.tmp.dir={tmp}",
            "pyspark-shell"]))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least TAIL_BEYOND samples above it, never below the median."""
    xs = sorted(values)
    k = max(len(xs) - 1 - TAIL_BEYOND, (len(xs) - 1) // 2)
    return 100.0 * (k + 1) / len(xs), xs[k]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, cores: int, run_dir: Path, compile_s: float):
        self.args, self.cores, self.run_dir = args, cores, run_dir
        self.compile_s = compile_s
        self.fused, self.controls = WORKLOADS[args.workload]
        self.info: list[str] = []
        self.spark = None

    # -- session ----------------------------------------------------------

    def start_session(self):
        from simdcomp_spark import engine
        self.spark = engine.get_spark(app="perfbench", cores=self.cores,
                                      shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()     # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- phases -----------------------------------------------------------

    def setup(self):
        from perfbench import inputs, ops
        t0 = time.perf_counter()
        self.start_session()               # launches the JVM once
        jvm_s = time.perf_counter() - t0
        self.spark.stop()
        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            self.inp = inputs.materialize(self.args.workload, self.args.seed,
                                          self.run_dir / "data", self.cores)
            want, self.segs = ops.check_input(self.spark, self.inp,
                                              segments=self.fused)
            self.want = {self.fused: want}
            times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                self.spark.stop()
        self.setup_s = median(times)
        self.info.append(
            f"jvm launch {jvm_s:.2f} s; setup cycles "
            + ", ".join(f"{t:.2f}" for t in times) + " s; input "
            + f"{self.inp.rows} rows, {self.inp.tokens} tokens")

    def cycle(self, fused: bool | None = None) -> dict:
        """One round trip: the encode op, then the decode op."""
        fused = self.fused if fused is None else fused
        enc_path = str(self.run_dir / "enc")
        out = {"enc": self.ops.encode(self.inp, self.segs, enc_path, fused)}
        if out["enc"].ok:
            out["dec"] = self.ops.decode(self.inp, self.want[fused],
                                         enc_path, fused)
            if out["dec"].ok:
                out["rt"] = out["enc"].wall_s + out["dec"].wall_s
        return out

    def controls_once(self) -> None:
        self.scan_s.append(self.ops.control(self.inp, identity=False))
        self.ident_s.append(self.ops.control(self.inp, identity=True))

    def run(self) -> dict:
        from perfbench import ops, proctree, tracing
        self.setup()
        self.tracer = tracing.Tracer(self.spark, enabled=False)
        self.ops = ops.Ops(self.spark, self.tracer, proctree.cpu_seconds)
        self.scan_s: list[float] = []
        self.ident_s: list[float] = []

        # warm-up: round trips until two in a row agree
        t0, n, last = time.perf_counter(), 0, None
        while n < WARMUP_MAX:
            rt = self.cycle().get("rt")
            n += 1
            settled = (rt is not None and last is not None
                       and abs(rt - last) <= SETTLED * last)
            last = rt
            if n >= WARMUP_MIN and settled:
                break
        self.info.append(f"warm-up {n} round trips, "
                         f"{time.perf_counter() - t0:.2f} s")

        # measured window; under --trace 1 every other cycle is traced
        trace = bool(self.args.trace)
        cycles = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < self.args.seconds
               or len(cycles) < (2 if trace else 1)):
            self.tracer.enabled = trace and len(cycles) % 2 == 0
            c = self.cycle()
            c["traced"] = self.tracer.enabled
            cycles.append(c)
            if self.controls and len(cycles) % 2:
                self.controls_once()
        self.tracer.enabled = False
        self.window_s = time.perf_counter() - t0
        self.peak_rss = proctree.peak_rss_mb()
        self.cycles = cycles
        return self.layer_metrics() if trace else self.end_to_end()

    # -- results ----------------------------------------------------------

    def end_to_end(self) -> dict:
        enc = [c["enc"] for c in self.cycles if c["enc"].ok]
        dec = [c["dec"] for c in self.cycles if "dec" in c and c["dec"].ok]
        rts = [c["rt"] for c in self.cycles if "rt" in c]
        pct, tail_s = tail(rts) if rts else (0.0, 0.0)
        nbytes, codecs = self.ops.recorded.get(self.fused, (0, ()))
        m = {
            "setup_s": (self.setup_s, "s"),
            "encode_mtok_s": (median(o.tokens / o.wall_s / 1e6 for o in enc),
                              "Mtok/s"),
            "decode_mtok_s": (median(o.tokens / o.wall_s / 1e6 for o in dec),
                              "Mtok/s"),
            "encode_cpu_ns_tok": (median(o.cpu_s * 1e9 / o.tokens
                                         for o in enc), "ns/tok"),
            "decode_cpu_ns_tok": (median(o.cpu_s * 1e9 / o.tokens
                                         for o in dec), "ns/tok"),
            "bits_per_token": (nbytes * 8 / self.inp.tokens, "bits/tok"),
            "job_s_p50": (median(rts), "s"),
            "job_s_tail": (tail_s, "s"),
            "peak_rss_mb": (self.peak_rss, "MB"),
        }
        self.info.append("round trips (encode s + decode s): " + ", ".join(
            f"{c['enc'].wall_s:.3f}+{c['dec'].wall_s:.3f}"
            for c in self.cycles if "rt" in c))
        self.info.append(
            f"window {self.window_s:.2f} s: {len(self.cycles)} cycles, "
            f"{len(rts)} verified round trips; job_s_tail is p{pct:.0f} of "
            f"{len(rts)} samples; codec(s) chosen: {','.join(codecs)}")
        if self.scan_s:
            self.info.append(
                f"controls (weather): scan {median(self.scan_s):.3f} s, "
                f"arrow identity {median(self.ident_s):.3f} s "
                f"over {len(self.scan_s)} cycles")
        return m

    def layer_metrics(self) -> dict:
        from perfbench import ops
        traced = [c for c in self.cycles if c["traced"]]
        plain = [c for c in self.cycles if not c["traced"]]
        # two round trips through the other engine path, the second one
        # traced, and the controls for workloads that do not run them in
        # every cycle
        self.want[not self.fused] = ops.check_input(
            self.spark, self.inp, segments=not self.fused)[0]
        self.cycle(fused=not self.fused)
        self.tracer.enabled = True
        cross = self.cycle(fused=not self.fused)
        self.tracer.enabled = False
        if not self.controls:
            self.controls_once()
        m: dict[str, tuple[float, str]] = {}
        by_kind: dict[str, list[dict]] = {k: [] for k in OP_KINDS}
        for c in traced + [cross]:
            for side in ("enc", "dec"):
                if side in c and c[side].ok and c[side].layers:
                    by_kind[c[side].kind].append(c[side].layers)
        for kind in OP_KINDS:
            for name, unit in OP_METRICS.items():
                m[f"engine.{kind}.{name}"] = (
                    median(x[name] for x in by_kind[kind]), unit)
        m["engine.decode.probe_jobs"] = (
            median(x["probe_jobs"] for x in by_kind["decode"]), "count")
        scan, ident = median(self.scan_s), median(self.ident_s)
        enc_walls = [c["enc"].wall_s for c in self.cycles + [cross]
                     if c["enc"].ok and c["enc"].kind == "encode"]
        m["control.scan_s"] = (scan, "s")
        m["control.arrow_identity_s"] = (ident, "s")
        m["control.arrow_boundary_s"] = (ident - scan, "s")
        m["control.codec_udf_s"] = (median(enc_walls) - ident, "s")

        from simdcomp_spark import native
        codec, bad = ops.codec_layer(self.inp, BATCH_ROWS, CODEC_REPS)
        self.ops.attempted += 2
        self.ops.failed += bad
        for k, v in codec.items():
            m[k] = (v, "bits/tok" if k.endswith("bits_per_token")
                    else "ns/tok")
        m["native.have_flat_codec"] = (float(native.have_flat_codec()),
                                       "flag")
        m["native.compile_s"] = (self.compile_s, "s")
        rt_t = median(c["rt"] for c in traced if "rt" in c)
        rt_p = median(c["rt"] for c in plain if "rt" in c)
        m["trace.overhead_pct"] = (100.0 * (rt_t - rt_p) / rt_p
                                   if rt_p else 0.0, "%")
        self.write_trace(by_kind)
        return m

    def write_trace(self, by_kind: dict[str, list[dict]]) -> None:
        from perfbench.tracing import SELF_TIMES
        out = WORK / "trace"
        out.mkdir(parents=True, exist_ok=True)
        stem = out / f"{self.args.workload}-seed{self.args.seed}"
        self.tracer.write_spans(f"{stem}.spans.jsonl")
        cols = ("wall_s",) + SELF_TIMES
        lines = [f"self time per layer, seconds, median over traced ops "
                 f"({self.args.workload}, seed {self.args.seed})",
                 f"{'op':<14}{'n':>3}" + "".join(f"{c:>16}" for c in cols)]
        for kind, rows in by_kind.items():
            if not rows:
                continue
            wall = [sum(r[c] for c in SELF_TIMES) for r in rows]
            vals = [median(wall)] + [median(r[c] for r in rows)
                                     for c in SELF_TIMES]
            lines.append(f"{kind:<14}{len(rows):>3}"
                         + "".join(f"{v:>16.4f}" for v in vals))
        Path(f"{stem}.selftime.txt").write_text("\n".join(lines) + "\n")
        self.info.extend(lines)
        self.info.append(f"spans: {stem}.spans.jsonl")


def _overdue(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "simdcomp_spark" / "engine.py").is_file():
        print(f"perfbench: no simdcomp_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # one task slot per two cores: on a 4-core host local[4] ran slower
    # than local[2], at twice the run-to-run spread
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    run_dir = WORK / f"run-{args.workload}-{os.getpid()}"
    # untraced runs share one compiled kernel library; a traced run
    # compiles its own so native.compile_s is a real compile
    native_dir = run_dir / "native" if args.trace else WORK / "native"
    hermetic_env(run_dir, native_dir)
    sys.path.insert(0, str(ROOT))

    from simdcomp_spark import native
    t0 = time.perf_counter()
    have_native = native.have_flat_codec()
    compile_s = time.perf_counter() - t0
    if not have_native:
        print("perfbench: native kernels unavailable; measuring the numpy "
              "fallback", file=sys.stderr)

    bench = Bench(args, cores, run_dir, compile_s)
    signal.signal(signal.SIGALRM, _overdue)
    signal.alarm(DEADLINE_S)
    try:
        metrics = bench.run()
    finally:
        signal.alarm(0)
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in bench.info:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name:<40} {value:>16.6g} {unit}")
    att, failed = bench.ops.attempted, bench.ops.failed
    print(f"error_rate {failed / att:.4f} ({failed} of {att} ops failed)"
          f"; local[{cores}]")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": att,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
