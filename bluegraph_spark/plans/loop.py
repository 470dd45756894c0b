"""One driver loop for every checkpointing superstep operator.

PageRank, connected components, LPA, Louvain's local-move rounds, SSSP and
k-shortest distances share one protocol; this class is its only copy. An
operator keeps its round plan, its observed-metric columns and its
convergence test, and the loop owns the rest:

- a private session (``loop_session``): inputs are rebound onto it, results
  back onto the caller's, and AQE off plus the shuffle width are pinned on
  it (``freeze``) once the operator has materialized its edge cache;
- the resume point: with ``resume=True`` the loop starts from the
  checkpointer's latest complete superstep, and ``done`` tells the operator
  to return that checkpoint before it builds any cache when it is already
  converged or at the iteration budget;
- each superstep (``start`` for iteration 0, ``run`` after it): observe
  the metrics on the new state, materialize it with exactly one
  ``checkpointer.save`` (or a stats-safe ``localCheckpoint`` without a
  checkpointer), read the ``Observation``, append the history record and
  release the superseded state's blocks;
- the first superstep's physical plan and executed exchange count (``plan``
  and ``exchanges``) for the plan-guard tests;
- unpersisting every cache registered with ``cache``, when the ``with``
  block exits either way. On failure it also releases the current state.

The metrics of a superstep are committed once: ``save`` receives them as a
zero-argument callable and evaluates it after the state write commits (the
``Observation`` rides that write job), so the metrics JSON, the
checkpoint's completeness marker, is written exactly once.

History record schema, one per step (iteration 0 is the initial state):

- ``iteration``: the checkpoint index (Louvain numbers rounds across
  levels, so it is the global round count there);
- ``superstep_sec``: wall seconds of the step, plan build to commit;
- ``rows``: rows in the materialized state;
- ``converged``: the operator's convergence test on this step;
- the operator's own metrics: ``err``/``danglesum`` (PageRank),
  ``sig_cnt``/``sig_hash`` (components), ``changes`` (LPA),
  ``level``/``round``/``parity``/``moves`` (Louvain), ``improved`` (SSSP),
  ``new_labels`` (k-shortest). A metric the initial state has no value for
  is ``None`` at iteration 0.

A resumed call's history starts with ``checkpointer.metrics_log()`` up to
its resume point; those records also carry the checkpointer's own keys
(``wall_clock_utc``, ``write_sec``, ``path``, ``lineage``, ``total_rows``).
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.isolation import loop_partitions, loop_session, rebind
from bluegraph_spark.plans.planinfo import executed_exchange_count
from bluegraph_spark.plans.stats_guard import (
    release_local_checkpoint,
    stats_safe_local_checkpoint,
)

#: ``plan(state, last)`` builds the next state from the current one and the
#: previous history record (``None`` before the first step).
Plan = Callable[[DataFrame, Any], DataFrame]
#: ``record(observed, last)`` turns the observed metrics into the operator's
#: history fields, ``converged`` included.
Record = Callable[[Any, Any], dict]


class SuperstepLoop:
    """Context manager running one operator's supersteps (see module doc)."""

    def __init__(
        self,
        caller: SparkSession,
        checkpointer: SuperstepCheckpointer | None = None,
        resume: bool = False,
        partitions: int | None = None,
        max_iter: int | None = None,
    ):
        self.caller = caller
        self.spark = loop_session(caller)
        self.checkpointer = checkpointer
        self.partitions = partitions
        self.max_iter = max_iter
        self.iteration = 0
        self.state: DataFrame | None = None
        self.last: dict[str, Any] | None = None
        self.history: list[dict[str, Any]] = []
        self.plan: str | None = None
        self.exchanges: int | None = None
        self._caches: list[DataFrame] = []
        self._step_caches: list[DataFrame] = []
        self.resumed = False
        if resume and checkpointer is not None and checkpointer.latest() is not None:
            self.iteration = checkpointer.latest()
            self.history = checkpointer.metrics_log()
            self.last = self.history[-1]
            self.state = checkpointer.load(self.spark, self.iteration)
            self.resumed = True

    def __enter__(self) -> SuperstepLoop:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for c in self._caches + self._step_caches:
            c.unpersist()
        if exc_type is not None:
            # nobody receives the state of a failed call
            release_local_checkpoint(self.state)

    # -- session and sizing ---------------------------------------------

    def rebind(self, df: DataFrame) -> DataFrame:
        """Move a caller frame onto the loop's session."""
        return rebind(df, self.spark)

    def output(self, df: DataFrame) -> DataFrame:
        """Move a result frame back onto the caller's session."""
        return rebind(df, self.caller)

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the loop exits (or an earlier unpersist)."""
        df = df.persist()
        self._caches.append(df)
        return df

    def step_cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the current superstep has materialized."""
        df = df.persist()
        self._step_caches.append(df)
        return df

    def width(self, count: Callable[[], int],
              rows_per_partition: int | None = None) -> int:
        """The caller's ``partitions``, else sized from ``count()`` rows."""
        if self.partitions:
            return int(self.partitions)
        conf_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return loop_partitions(int(count() or 0), conf_parts, rows_per_partition)

    def freeze(self, n_parts: int) -> None:
        """Pin AQE off and the shuffle width for the fixed-shape round plans.

        Call it after the edge cache materializes under AQE and before the
        initial state does: a localCheckpoint taken while AQE is on captures
        UnknownPartitioning, which costs the first superstep two extra O(V)
        state shuffles.
        """
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))

    # -- supersteps -----------------------------------------------------

    @property
    def converged(self) -> bool:
        return bool(self.last and self.last.get("converged"))

    @property
    def done(self) -> bool:
        """Resumed at a converged or budget-exhausted checkpoint."""
        return self.resumed and (
            self.converged
            or (self.max_iter is not None and self.iteration >= self.max_iter)
        )

    def start(self, init: DataFrame, observe: list[Column], record: Record) -> None:
        """Materialize ``init`` as iteration 0, unless resumed."""
        if not self.resumed:
            self._step(0, lambda _s, _l: init, observe, record)

    def begin(self, state: DataFrame) -> None:
        """Adopt ``state`` without a superstep; it is released once a step
        supersedes it (the previous state is left to its owner)."""
        self.state = state

    def run(self, plan: Plan, observe: list[Column], record: Record,
            until: int | None = None) -> None:
        """Step until converged or ``until`` (default ``max_iter``)."""
        until = self.max_iter if until is None else until
        while self.iteration < until:
            self._step(self.iteration + 1, plan, observe, record)
            if self.converged:
                break

    def _step(self, it: int, plan: Plan, observe: list[Column],
              record: Record) -> None:
        t0 = time.time()
        last = self.last
        obs = Observation(f"superstep_{it}_{time.time_ns()}")
        df = plan(self.state, last).observe(
            obs, F.count(F.lit(1)).alias("rows"), *observe
        )
        if it > 0 and self.plan is None:
            # AQE is off in-loop, so this static plan is what executes
            self.plan = df._jdf.queryExecution().executedPlan().toString()
            self.exchanges = executed_exchange_count(df)
        rec: dict[str, Any] = {}

        def metrics() -> dict[str, Any]:
            m = obs.get
            rec.update(iteration=it, rows=int(m["rows"]), **record(m, last))
            rec["superstep_sec"] = round(time.time() - t0, 3)
            return rec

        try:
            if self.checkpointer is not None:
                out = self.checkpointer.save(it, df, metrics)
            else:
                out = stats_safe_local_checkpoint(df)
                metrics()
        finally:
            for c in self._step_caches:
                c.unpersist()
            self._step_caches.clear()
        self.history.append(rec)
        # the successor is materialized: free the superseded state's blocks
        # now instead of waiting for a periodic-GC ContextCleaner pass
        release_local_checkpoint(self.state)
        self.state, self.last, self.iteration = out, rec, it
