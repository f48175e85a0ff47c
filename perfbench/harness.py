"""The closed loop every workload runs in, and its bookkeeping.

One client: an op starts only after the previous one returned and was
checked against the workload's model. Each op is timed around the
package calls it makes, in wall seconds and in CPU seconds of the
process tree; the model check runs after the timer stops.
The timed part of a run is a fixed number of cycles, so every commit
runs the same op sequence on the same state. In a traced run every
timed cycle is traced (spans, status-store deltas, worker CPU), and the
time the tracing instrumentation takes outside the ops is measured
directly, so the run also reports what tracing costs
(``trace.overhead_ratio``).
"""

from __future__ import annotations

import sys
import time
import traceback
from statistics import median
from collections import defaultdict
from contextlib import contextmanager

from perfbench.meter import (
    FileLedger,
    StatusStore,
    Tracer,
    covered,
    program_cpu_s,
    tail,
)

READ, WRITE, MAINT = "read", "write", "maint"


class Harness:
    def __init__(self, spark, trace: bool, procs) -> None:
        self.spark = spark
        self.trace = trace
        self.procs = procs
        self.tracer = Tracer()
        self.store = StatusStore(spark) if trace else None
        self.ledger: FileLedger | None = None
        self.ops: list[dict] = []
        self.cycles: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self.user_bytes = 0
        self.timing = False  # False during set-up and warm-up
        self.capped = False
        self.instr_s = 0.0  # tracing instrumentation time outside the ops
        self._cycle: dict | None = None

    # ---- recording -----------------------------------------------------
    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def note(self, name: str, value: float) -> None:
        """A per-layer reading; kept from traced timed cycles only."""
        if self.timing and self.traced:
            self.values[name].append(float(value))

    @contextmanager
    def instrument(self):
        """Tracing work done outside an op's timer; its time is the
        tracing overhead."""
        t0 = time.perf_counter()
        yield
        self.instr_s += time.perf_counter() - t0

    def final(self, name: str, value: float) -> None:
        """A per-layer reading of the state the run ends in."""
        self.values[name] = [float(value)]

    @contextmanager
    def layer(self, name: str):
        """Span around one call into a package layer; its duration is
        the reading for ``<name>_s``."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.note(f"{name}_s", time.perf_counter() - t0)

    def op(self, cls: str, kind: str, fn, check=None):
        """Run one op closed-loop; returns its result, or None when it
        raised. A raise or a failed check counts the op as failed."""
        op_id = len(self.ops)
        self.tracer.op_id = op_id
        traced = self.traced
        if traced:
            with self.instrument():
                mark = self.store.mark()
        parts0 = self.procs.cpu_parts()
        w0 = time.time()
        t0 = time.perf_counter()
        err = None
        with self.tracer.span(f"op.{kind}"):
            try:
                result = fn()
            except Exception:  # a failed op is counted, the loop goes on
                result, err = None, traceback.format_exc()
        seconds = time.perf_counter() - t0
        w1 = time.time()
        parts = self.procs.cpu_parts()
        parts = {k: parts[k] - parts0[k] for k in parts}
        cpu_s = program_cpu_s(parts)
        c0 = time.perf_counter()
        if err is None and check is not None:
            try:
                bad = check(result)
            except Exception:
                bad = traceback.format_exc()
            if bad:
                err = f"model check: {bad}"
        rec = {
            "op_id": op_id,
            "cycle": self._cycle["index"] if self._cycle else -1,
            "cls": cls,
            "kind": kind,
            "seconds": seconds,
            "cpu_s": cpu_s,
            "cpu_parts": parts,
            "check_s": time.perf_counter() - c0,
            "ok": err is None,
            "timed": self.timing,
            "traced": traced,
        }
        if err is not None:
            print(f"op {op_id} {kind} FAILED: {err}", file=sys.stderr)
        if traced:
            with self.instrument():
                d = self.store.delta(mark)
            rec.update(jobs=d.jobs, stages=d.stages, tasks=d.tasks)
            c = self._cycle
            c["executor_run_s"] += d.executor_run_s
            c["executor_cpu_s"] += d.executor_cpu_s
            c["shuffle_write_bytes"] += d.shuffle_write_bytes
            c["spill_bytes"] += d.spill_bytes
            c["worker_cpu_s"] += parts["workers"]
            self.note(f"spark.{cls}.jobs_per_op", d.jobs)
            self.note(f"spark.{cls}.stages_per_op", d.stages)
            self.note(f"spark.{cls}.tasks_per_op", d.tasks)
            if cls in (READ, WRITE):
                self_s = (w1 - w0) - covered(d.job_intervals, w0, w1)
                name = "driver.self_s" if cls == READ else "driver.write_self_s"
                self.note(name, self_s)
        if self.ledger is not None:
            created0 = self.ledger.created_bytes
            rec["files"], _ = self.ledger.walk()
            rec["created_bytes"] = self.ledger.created_bytes - created0
        self.ops.append(rec)
        return result

    def fail_if(self, op_id: int, bad: str | None) -> None:
        """Record the verdict of a model check made after the op's turn."""
        if bad:
            self.ops[op_id]["ok"] = False
            print(f"op {op_id} {self.ops[op_id]['kind']} FAILED: model check: {bad}", file=sys.stderr)

    # ---- the loop -------------------------------------------------------
    @contextmanager
    def cycle(self, index: int):
        """One cycle of the workload; traced when the run is traced and
        the cycle is timed."""
        self.tracer.enabled = self.trace and self.timing
        self._cycle = {
            "index": index,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "worker_cpu_s": 0.0,
        }
        n0 = len(self.ops)
        yield
        c = self._cycle
        ops = self.ops[n0:]
        c["op_s"] = sum(o["seconds"] for o in ops)
        if self.timing:
            self.cycles.append(c)
        self.tracer.enabled = False

    def timed_loop(self, cycles: int, cap_s: float, run_cycle) -> None:
        """The fixed timed op sequence: ``cycles`` whole cycles. ``cap_s``
        only bounds a run on a host far slower than the one the sequence
        was sized on: past it no further cycle starts, and the run record
        says the sequence was cut."""
        self.timing = True
        if self.ledger is not None:
            self.ledger.walk()
            self.ledger.created_bytes = 0
        self.user_bytes = 0
        t_end = time.perf_counter() + cap_s
        for i in range(cycles):
            if i > 0 and time.perf_counter() > t_end:
                self.capped = True
                break
            with self.cycle(i):
                run_cycle(i)
        self.timing = False

    # ---- results --------------------------------------------------------
    def attempted_failed(self) -> tuple[int, int]:
        return len(self.ops), sum(1 for o in self.ops if not o["ok"])

    def end_to_end(self, space_amp: float) -> tuple[dict, dict]:
        """(metrics, details) over the timed cycles. The time metrics
        are CPU seconds of the process tree (driver, JVM, Python
        workers) inside each op; the same figures in wall seconds go to
        the details."""
        timed = [o for o in self.ops if o["timed"]]
        out, details = {}, {"wall": {}}
        for key, prefix, into in (("cpu_s", "cpu_", out), ("seconds", "", details["wall"])):
            for cls in (READ, WRITE):
                xs = [o[key] for o in timed if o["cls"] == cls]
                into[f"{cls}_{prefix}p50_s"] = median(xs)
                v, pct, n = tail(xs)
                into[f"{cls}_{prefix}tail_s"] = v
                details[f"{cls}_tail"] = {"percentile": round(pct, 2), "n": n}
            into[f"run_{prefix}s"] = sum(o[key] for o in timed)
            into[f"maint_{prefix}s"] = sum(o[key] for o in timed if o["cls"] == MAINT)
        attempted, failed = self.attempted_failed()
        out["ok_share"] = (attempted - failed) / attempted
        out["write_amp"] = self.ledger.created_bytes / self.user_bytes
        out["space_amp"] = space_amp
        details["cycles"] = len(self.cycles)
        details["capped"] = self.capped
        details["op_seconds"], details["op_cpu_parts"] = {}, {}
        for o in timed:
            details["op_seconds"].setdefault(o["kind"], []).append(round(o["seconds"], 4))
            parts = details["op_cpu_parts"].setdefault(o["kind"], {})
            for k, v in o["cpu_parts"].items():
                parts.setdefault(k, []).append(round(v, 3))
        return out, details

    def per_layer(self, names: list[str]) -> dict:
        """Every per-layer metric over the timed sequence: timings as
        medians per call, counts and ratios as means per op,
        ``spark.executor_*``, Spark's byte counts,
        ``python.worker_cpu_s`` and the JVM's JIT and GC thread CPU
        (``jvm.jit_cpu_s``, ``jvm.gc_cpu_s``; left out of the
        end-to-end CPU metrics) as totals; a layer the workload never
        calls reads 0."""
        totals = {
            "spark.executor_run_s": "executor_run_s",
            "spark.executor_cpu_s": "executor_cpu_s",
            "spark.shuffle_write_bytes": "shuffle_write_bytes",
            "spark.spill_bytes": "spill_bytes",
            "python.worker_cpu_s": "worker_cpu_s",
        }
        op_s = sum(c["op_s"] for c in self.cycles)
        out = {}
        for name in names:
            if name in totals:
                out[name] = sum(c[totals[name]] for c in self.cycles)
            elif name in ("jvm.jit_cpu_s", "jvm.gc_cpu_s"):
                part = name[len("jvm.") : -len("_cpu_s")]
                out[name] = sum(o["cpu_parts"][part] for o in self.ops if o["timed"])
            elif name == "trace.overhead_ratio":
                out[name] = (op_s + self.instr_s) / op_s
            elif name in self.values:
                xs = self.values[name]
                out[name] = median(xs) if name.endswith("_s") else sum(xs) / len(xs)
            else:
                out[name] = 0.0
        return out
