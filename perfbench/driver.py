"""Runs a workload's passes for a time budget and turns spans into metrics."""

from __future__ import annotations

import json
import os
import statistics
import time

import checks
import inputs
import workloads
from sparkenv import WORK, cpu_clock, since, unstolen
from spans import Tracer

LAYER_SPAN_METRICS = (
    "wall_s", "jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms",
    "driver_residue_s",
)
RUN_METRICS = (
    "jobs", "stages", "executor_run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "driver_residue_s", "leaked_rdds",
    "first_pass_s", "trace_overhead_frac", "ops_failed_frac", "wall_s",
    "steal_s", "cpu_s", "peak_rss_mb",
)
CHECKPOINT_METRICS = (
    "saves", "save_s", "bytes_written", "load_s", "replayed_supersteps",
    "resume_s", "resume_after_save_failures", "superstep_s_p50",
    "superstep_s_tail", "superstep_tail_pct", "superstep_samples",
)
# an output is checked under the name of the call that wrote it
OUTPUT_OP = {"edges": "cooccurrence", "pagerank_full": "pagerank"}


def layer_metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in workloads.SPAN_LAYERS for m in LAYER_SPAN_METRICS]
    names += ["corpus.rows", "corpus.sha256_mismatches", "cooccurrence.edges_out",
              "cooccurrence.shuffle_records", "cooccurrence.task_skew",
              "triangles.task_skew"]
    for layer in workloads.LOOP_LAYERS:
        names += [f"{layer}.supersteps", f"{layer}.jobs_per_superstep"]
    names += [f"checkpoint.{m}" for m in CHECKPOINT_METRICS]
    names += [f"run.{m}" for m in RUN_METRICS]
    return names


CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process and its waited-for children."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


class Bench:
    def __init__(self, spark, workload: str, seed: int, run_dir: str, trace: bool):
        self.spark = spark
        self.workload = workload
        self.trace = trace
        self.run_dir = run_dir
        self.input_path, self.meta = inputs.materialize(
            workload, seed, os.path.join(WORK, "inputs")
        )
        self.prm = workloads.PARAMS[workload]
        self.passes: list[workloads.PassResult] = []
        self.walls: list[float] = []  # steal-adjusted pass walls
        self.tracers: list[Tracer] = []
        self.leaked: list[int] = []
        self.checked: dict = {}

    def _one_pass(self, n: int) -> workloads.PassResult:
        sc = self.spark.sparkContext
        tracer = Tracer(f"pass{n}", sc if self.trace else None)
        p = workloads.Pass(
            self.spark, tracer,
            os.path.join(self.run_dir, f"out-{n}"), os.path.join(self.run_dir, f"ckpt-{n}"),
        )
        pids = [os.getpid(), sc._gateway.proc.pid]
        cpu0, clock0 = sum(map(proc_cpu_s, pids)), cpu_clock()
        with tracer.span(f"pass{n}", "run", tag=False) as top:
            getattr(workloads, self.workload)(p, self.input_path, self.prm, self.meta)
        p.result.wall = top.wall
        p.result.cpu_s = sum(map(proc_cpu_s, pids)) - cpu0
        p.result.busy_s, p.result.steal_s = since(clock0)
        p.result.ckpt_bytes = sum(cp.bytes_written() for cp in p.result.checkpointers)
        # cached blocks still registered after the pass has returned
        self.leaked.append(len(sc._jsc.getPersistentRDDs()))
        # a leak must not slow later passes: the count above records it
        self.spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.tracers.append(tracer)
        self.passes.append(p.result)
        return p.result

    def run(self, seconds: float) -> None:
        """Passes back to back until ``seconds`` have passed (at least one).

        The first pass starts in the session the set-up left, so it carries
        the first-use costs a batch user of the engine pays on every run.
        """
        deadline = time.time() + seconds
        n = 0
        while n == 0 or time.time() < deadline:
            res = self._one_pass(n)
            self.walls.append(unstolen(res.wall, res.busy_s, res.steal_s))
            n += 1

    def cpu_s(self) -> float:
        return statistics.median(r.cpu_s for r in self.passes)

    # -- checks ---------------------------------------------------------------

    def check(self) -> dict:
        ref = checks.build_reference(self.workload, self.input_path, self.meta, self.prm)
        attempted = failed = 0
        problems: list[str] = []
        expected = []
        for i, res in enumerate(self.passes):
            found = checks.check_pass(self.workload, ref, res.outputs, res.facts)
            ops = {sp.name for sp in self.tracers[i].spans if sp.layer != "run"}
            attempted += len(ops)
            bad = dict(res.errors)
            for out, why in found.items():
                if why:
                    bad.setdefault(OUTPUT_OP.get(out, out), why)
            failed += len(bad)
            problems += [f"pass {i} {op}: {why}" for op, why in sorted(bad.items())]
            expected += [f"pass {i} {op}: {why}" for op, why in res.expected_failures.items()]
        ref["con"].close()
        self.checked = {"attempted": attempted, "failed": failed}
        return {
            "workload": self.workload,
            "inputs": self.meta,
            "passes": len(self.passes),
            "walls": [round(w, 4) for w in self.walls],
            "cpu_s": [round(r.cpu_s, 3) for r in self.passes],
            "busy_s": [round(r.busy_s, 3) for r in self.passes],
            "steal_s": [round(r.steal_s, 3) for r in self.passes],
            "spans": [{sp.name: round(sp.wall, 3) for sp in t.spans} for t in self.tracers],
            "facts": [res.facts for res in self.passes],
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "known_defect_failures": expected,
        }

    # -- per-layer metrics -----------------------------------------------------

    def layer_metrics(self, peak_rss_mb: float) -> dict:
        names = layer_metric_names()
        values = dict.fromkeys(names, 0.0)
        per_pass = [self._pass_layers(i) for i in range(len(self.passes))]
        for name in names:
            values[name] = _median([pp.get(name) for pp in per_pass])
        values["run.first_pass_s"] = self.passes[0].wall
        values["run.trace_overhead_frac"] = _median(
            [t.overhead_s / max(p.wall - t.overhead_s, 1e-9)
             for t, p in zip(self.tracers, self.passes)]
        )
        steps = [s for p in self.passes for cp in p.checkpointers
                 for s in cp.superstep_seconds()]
        if steps:
            pct, tail = _tail(steps)
            values["checkpoint.superstep_s_p50"] = statistics.median(steps)
            values["checkpoint.superstep_s_tail"] = tail
            values["checkpoint.superstep_tail_pct"] = pct
            values["checkpoint.superstep_samples"] = float(len(steps))
        values["run.peak_rss_mb"] = peak_rss_mb
        if self.checked.get("attempted"):
            values["run.ops_failed_frac"] = self.checked["failed"] / self.checked["attempted"]
        units = {n: _unit(n) for n in names}
        return {n: {"value": float(values[n]), "unit": units[n]} for n in names}

    def _pass_layers(self, i: int) -> dict:
        tracer, res = self.tracers[i], self.passes[i]
        spans = [s for s in tracer.spans if s.layer != "run"]
        top = next(s for s in tracer.spans if s.layer == "run")
        out: dict[str, float] = {}
        for sp in spans:
            if sp.layer not in workloads.SPAN_LAYERS:
                continue
            L = sp.layer
            out[f"{L}.wall_s"] = sp.wall
            if sp.traced:
                st = sp.stats
                out[f"{L}.jobs"] = st["jobs"]
                out[f"{L}.tasks"] = st["tasks"]
                out[f"{L}.shuffle_write_bytes"] = st["shuffle_write_bytes"]
                out[f"{L}.spill_bytes"] = st["spill_bytes"]
                out[f"{L}.gc_ms"] = st["gc_ms"]
                out[f"{L}.driver_residue_s"] = tracer.residue(sp)
            if L in ("cooccurrence", "triangles") and sp.task_skew is not None:
                out[f"{L}.task_skew"] = sp.task_skew
            if L == "cooccurrence" and sp.traced:
                out["cooccurrence.shuffle_records"] = sp.stats["shuffle_records"]
            steps = res.facts.get(L, {}).get("supersteps")
            if L in workloads.LOOP_LAYERS and steps:
                out[f"{L}.supersteps"] = steps
                if sp.traced:
                    out[f"{L}.jobs_per_superstep"] = sp.stats["jobs"] / steps
        if "corpus" in res.outputs:
            out["corpus.rows"] = float(checks.row_count(res.outputs["corpus"]))
            out["corpus.sha256_mismatches"] = res.facts.get("corpus", {}).get(
                "sha256_mismatches", 0)
        if "edges" in res.outputs:
            out["cooccurrence.edges_out"] = float(checks.row_count(res.outputs["edges"]))
        cps = res.checkpointers
        if cps:
            out["checkpoint.saves"] = float(sum(len(cp.save_starts) for cp in cps))
            out["checkpoint.save_s"] = sum(cp.save_s for cp in cps)
            out["checkpoint.load_s"] = sum(cp.load_s for cp in cps)
            out["checkpoint.bytes_written"] = float(res.ckpt_bytes)
        ra = res.facts.get("resume_a")
        if ra:
            out["checkpoint.resume_s"] = ra["wall_s"]
            out["checkpoint.replayed_supersteps"] = float(ra["replayed_supersteps"])
        if self.workload == "superstep_loops":
            out["checkpoint.resume_after_save_failures"] = float(len(res.expected_failures))
        traced = [s for s in spans if s.traced]
        for key in ("jobs", "stages", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            out[f"run.{key}"] = sum(s.stats[key] for s in traced)
        out["run.executor_run_ms"] = sum(s.stats["run_ms"] for s in traced)
        if traced:
            out["run.driver_residue_s"] = tracer.residue(top, traced)
        out["run.leaked_rdds"] = float(self.leaked[i])
        out["run.wall_s"] = res.wall
        out["run.steal_s"] = res.steal_s
        out["run.cpu_s"] = res.cpu_s
        return out

    def dump_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for t in self.tracers:
                for sp in t.spans:
                    f.write(json.dumps(sp.to_json()) + "\n")


def _tail(samples):
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs)
    k = n - 11  # exactly ten samples above index k
    return round(100.0 * (k + 1) / n, 2), xs[k]


def _unit(name: str) -> str:
    m = name.split(".", 1)[1]
    if m.endswith("_s") or m in ("superstep_s_p50", "superstep_s_tail"):
        return "s"
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("_mb"):
        return "MB"
    if m.endswith("_bytes") or m == "bytes_written":
        return "bytes"
    if m.endswith("_frac") or m in ("task_skew", "jobs_per_superstep"):
        return "ratio"
    if m == "superstep_tail_pct":
        return "%"
    return "count"
