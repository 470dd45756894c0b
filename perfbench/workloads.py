"""The benchmark's workloads: one pass each, built from public engine calls.

Each pass runs its calls back to back inside spans (see ``spans.py``) and
materializes every result as parquet under the pass's output directory, so
the independent checks in ``checks.py`` can read them after the timed
region. Only the generated parquet inputs enter the engine.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.cooccurrence import cooccurrence_edges
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.mst import minimum_spanning_forest
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import shortest_paths
from bluegraph_spark.operators.triangles import triangle_counts
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.sources.corpus import (
    file_occurrences,
    ingest_repo_corpus,
    verify_sha256,
)

# Operator settings per workload (inputs are sized in ``inputs.SIZES``).
# Loops are short on purpose: on a 4-vCPU machine every Spark job costs
# 0.2-0.4 s of driver time, and a whole run (two JVM set-ups, one cold pass,
# the checks) has to stay near a minute.
PARAMS = {
    "corpus_pipeline": {"factor_freq_cap": 10, "lpa_iter": 2},
    "superstep_loops": {
        "pagerank_iter": 2,
        "lpa_iter": 2,
        "louvain_rounds": 1,
        "sssp_iter": 2,
        # kill point (a) raises before superstep kill_after + 1's write
        "kill_after": 1,
    },
}

# The layers the per-layer metrics are named after (repo modules).
SPAN_LAYERS = (
    "corpus", "cooccurrence", "pagerank", "components", "lpa", "louvain",
    "mst", "paths", "triangles",
)
LOOP_LAYERS = ("pagerank", "components", "lpa", "louvain", "mst", "paths")


class Killed(RuntimeError):
    """Raised by the kill checkpointers to stop a loop from outside."""


class TimingCheckpointer(SuperstepCheckpointer):
    """A storage checkpointer that times its calls from outside the loop.

    ``save_starts`` holds the clock at each ``save()`` entry; consecutive
    entries within one operator call are one superstep apart.
    """

    def __init__(self, base_path: str, run_id: str):
        super().__init__(base_path, run_id)
        self.save_starts: list[float] = []
        self.save_s = 0.0
        self.load_s = 0.0

    def save(self, iteration, state, metrics=None):
        t0 = time.perf_counter()
        self.save_starts.append(t0)
        try:
            return super().save(iteration, state, metrics)
        finally:
            self.save_s += time.perf_counter() - t0

    def load(self, spark, iteration):
        t0 = time.perf_counter()
        try:
            return super().load(spark, iteration)
        finally:
            self.load_s += time.perf_counter() - t0

    def superstep_seconds(self) -> list[float]:
        s = self.save_starts
        return [b - a for a, b in zip(s, s[1:])]

    def bytes_written(self) -> int:
        total = 0
        for root, _, files in os.walk(self.base):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


class KillBeforeSave(TimingCheckpointer):
    """Kill point (a): raise on entry to superstep ``at``'s save, before any
    of its state is written."""

    def __init__(self, base_path: str, run_id: str, at: int):
        super().__init__(base_path, run_id)
        self.at = at

    def save(self, iteration, state, metrics=None):
        if iteration == self.at:
            raise Killed(f"killed before superstep {iteration}'s write")
        return super().save(iteration, state, metrics)


class KillAfterSave(TimingCheckpointer):
    """Kill point (b): raise once superstep ``at``'s save() has returned,
    before the loop replaces the pending metrics with the full record."""

    def __init__(self, base_path: str, run_id: str, at: int):
        super().__init__(base_path, run_id)
        self.at = at

    def save(self, iteration, state, metrics=None):
        out = super().save(iteration, state, metrics)
        if iteration == self.at:
            raise Killed(f"killed after superstep {iteration}'s save")
        return out


@dataclass
class PassResult:
    wall: float = 0.0
    outputs: dict[str, str] = field(default_factory=dict)
    # per-op results: span name -> dict of facts (supersteps, counts, ...)
    facts: dict[str, dict] = field(default_factory=dict)
    checkpointers: list[TimingCheckpointer] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    expected_failures: dict[str, str] = field(default_factory=dict)
    ckpt_bytes: int = 0
    cpu_s: float = 0.0
    # machine-wide busy and stolen CPU seconds over the pass
    busy_s: float = 0.0
    steal_s: float = 0.0


class Pass:
    """One pass of a workload: spans around public calls, outputs on disk."""

    def __init__(self, spark, tracer, out_dir: str, ckpt_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.out_dir = out_dir
        self.ckpt_dir = ckpt_dir
        self.result = PassResult()
        for d in (out_dir, ckpt_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)

    def path(self, name: str) -> str:
        p = os.path.join(self.out_dir, name)
        self.result.outputs[name] = p
        return p

    def write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(self.path(name))

    def checkpointer(self, name: str, cls=TimingCheckpointer, **kw):
        cp = cls(self.ckpt_dir, name, **kw)
        self.result.checkpointers.append(cp)
        return cp

    def op(self, name: str, layer: str, fn, expect: type | None = None):
        """Run ``fn`` in a span. An exception of type ``expect`` is the
        intended outcome (a kill); any other exception is recorded."""
        try:
            with self.tracer.span(name, layer):
                out = fn()
        except Exception as exc:  # noqa: BLE001 - every failure is reported
            if expect is not None and isinstance(exc, expect):
                return None
            traceback.print_exc()
            self.result.errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return None
        if expect is not None:
            self.result.errors[name] = f"expected {expect.__name__}, call returned"
        return out


def corpus_pipeline(p: Pass, input_path: str, prm: dict, meta: dict) -> None:
    spark = p.spark
    facts = p.result.facts

    def ingest():
        corpus = ingest_repo_corpus(spark, input_path)
        facts["corpus"] = {"sha256_mismatches": verify_sha256(corpus)}
        p.write(corpus.select("file_id", "content_sha256"), "corpus")
        return corpus

    corpus = p.op("corpus", "corpus", ingest)
    if corpus is None:
        return

    def cooc():
        occ = file_occurrences(corpus)
        edges = cooccurrence_edges(
            occ, ["frequency", "npmi"],
            factor_freq_cap=prm["factor_freq_cap"], prune_zero_mi="npmi",
        )
        p.write(edges, "edges")
        return spark.read.parquet(p.result.outputs["edges"])

    edges = p.op("cooccurrence", "cooccurrence", cooc)
    if edges is None:
        return

    def cc():
        r = connected_components(edges)
        p.write(r.components, "components")
        facts["components"] = {"supersteps": r.rounds}

    def lpa():
        r = label_propagation(edges, weight_col="npmi", max_iter=prm["lpa_iter"])
        p.write(r.labels, "lpa")
        facts["lpa"] = {"supersteps": r.iterations}

    def tri():
        p.write(triangle_counts(edges), "triangles")

    p.op("components", "components", cc)
    p.op("lpa", "lpa", lpa)
    p.op("triangles", "triangles", tri)


def superstep_loops(p: Pass, input_path: str, prm: dict, meta: dict) -> None:
    """Checkpointed loops plus PageRank killed and resumed from outside.

    Kill point (b) hits the last superstep, so that call has computed every
    superstep uninterrupted: its final checkpoint is the reference the
    resumed run of kill point (a) must match bit for bit. Its resume runs
    last, because it fails on the current tree and may leave caches behind.
    """
    spark = p.spark
    facts = p.result.facts
    edges = spark.read.parquet(input_path)
    n = prm["pagerank_iter"]

    def pr(cp, resume=False, out=None):
        def call():
            r = pagerank(edges, weight_col="weight", tol=0.0, max_iter=n,
                         checkpointer=cp, resume=resume)
            if out is not None:
                p.write(r.ranks, out)
        return call

    full = p.checkpointer("pagerank", KillAfterSave, at=n)
    p.op("pagerank", "pagerank", pr(full), expect=Killed)
    p.result.outputs["pagerank_full"] = full.data_path(n)
    facts["pagerank"] = {"supersteps": len(full.save_starts) - 1}

    # (a) killed before superstep k+1 writes anything: resume replays k+1..n
    k = prm["kill_after"]
    p.op("kill_a", "checkpoint", pr(p.checkpointer("kill_a", KillBeforeSave, at=k + 1)),
         expect=Killed)
    resumed = p.checkpointer("kill_a")
    t0 = time.perf_counter()
    p.op("resume_a", "checkpoint", pr(resumed, resume=True, out="resume_a"))
    facts["resume_a"] = {"wall_s": time.perf_counter() - t0,
                         "replayed_supersteps": len(resumed.save_starts),
                         "load_s": resumed.load_s}

    def cc():
        r = connected_components(edges, checkpointer=p.checkpointer("components"))
        p.write(r.components, "components")
        facts["components"] = {"supersteps": r.rounds}

    def lpa():
        r = label_propagation(edges, weight_col="weight", max_iter=prm["lpa_iter"],
                              checkpointer=p.checkpointer("lpa"))
        p.write(r.labels, "lpa")
        facts["lpa"] = {"supersteps": r.iterations}

    def lv():
        r = louvain(edges, weight_col="weight", max_levels=1,
                    max_rounds=prm["louvain_rounds"], checkpointer=p.checkpointer("louvain"))
        p.write(r.labels, "louvain")
        facts["louvain"] = {"supersteps": r.rounds}

    def sssp():
        r = shortest_paths(edges, meta["source"], weight_col="weight",
                           max_iter=prm["sssp_iter"], checkpointer=p.checkpointer("paths"))
        p.write(r.distances, "paths")
        facts["paths"] = {"supersteps": r.iterations}

    def mst():
        r = minimum_spanning_forest(edges, "weight")
        p.write(r.tree_edges, "mst")
        facts["mst"] = {"supersteps": r.rounds}

    p.op("components", "components", cc)
    p.op("lpa", "lpa", lpa)
    p.op("louvain", "louvain", lv)
    p.op("paths", "paths", sssp)
    p.op("mst", "mst", mst)

    # (b) resumed after the kill that left superstep n's metrics pending
    p.op("resume_b", "checkpoint", pr(p.checkpointer("pagerank"), resume=True, out="resume_b"))
    # Known defect: resume takes the pending superstep as complete and fails
    # on its missing 'danglesum'. It is reported on its own counter; any
    # other failure of this call counts as a failed operation.
    err = p.result.errors.get("resume_b", "")
    if err.startswith("KeyError: 'danglesum'"):
        p.result.expected_failures["resume_b"] = p.result.errors.pop("resume_b")
