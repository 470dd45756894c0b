"""Every checkpointing loop survives a kill at any superstep and leaks nothing.

Two kill points per superstep k, both raised from a checkpointer subclass:
(a) on entry to superstep k's ``save()``, before anything of it is written;
(b) right after superstep k's ``save()`` returned. Each operator is killed
at (a) and (b) for k = 1 and k = 2 in turn, every kill hitting a
``resume=True`` rerun of the previous one: each rerun must replay only the
supersteps the kill lost (one ``save()`` each), and the last rerun must
return output bit-identical to an uninterrupted run. (One chain per
operator instead of one fresh run per kill keeps the module short.)

The same calls are leak checks: no persistent RDD of the SparkContext that
a call created survives it, whether the call succeeds or dies mid-loop.
"""

import pytest

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import k_shortest_distances, shortest_paths
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

from .graph_fixtures import karate, nx_to_edges_df

STEPS = 2

# name -> call(edges, checkpointer, resume) returning the result frame
OPERATORS = {
    "pagerank": lambda e, cp, resume: pagerank(
        e, weight_col="strength", tol=0.0, max_iter=STEPS,
        checkpointer=cp, resume=resume,
    ).ranks,
    "components": lambda e, cp, resume: connected_components(
        e, max_rounds=STEPS, checkpointer=cp, resume=resume
    ).components,
    "lpa": lambda e, cp, resume: label_propagation(
        e, weight_col="strength", max_iter=STEPS, checkpointer=cp, resume=resume
    ).labels,
    "sssp": lambda e, cp, resume: shortest_paths(
        e, "0", weight_col="strength", max_iter=STEPS,
        checkpointer=cp, resume=resume,
    ).distances,
    "k_shortest": lambda e, cp, resume: k_shortest_distances(
        e, "0", k=2, weight_col="strength", max_iter=STEPS,
        checkpointer=cp, resume=resume,
    ).distances,
}


class Killed(RuntimeError):
    pass


class CountingCheckpointer(SuperstepCheckpointer):
    def __init__(self, base_path, kill_at=None, kill_after=False):
        super().__init__(base_path, "run", collect_lineage=False)
        self.kill_at = kill_at
        self.kill_after = kill_after
        self.saved: list[int] = []

    def save(self, iteration, state, metrics=None):
        if iteration == self.kill_at and not self.kill_after:
            raise Killed(f"before superstep {iteration}'s save")
        out = super().save(iteration, state, metrics)
        self.saved.append(iteration)
        if iteration == self.kill_at:
            raise Killed(f"after superstep {iteration}'s save")
        return out


@pytest.fixture(scope="module")
def edges(spark):
    return nx_to_edges_df(spark, karate(), weight="strength")


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _leak_free(spark, call, *args, killed=False):
    """Run ``call``; assert it leaves no persistent RDD of its own behind."""
    before = _persistent_rdds(spark)
    if killed:
        with pytest.raises(Killed):
            call(*args)
        rows = None
    else:
        rows = sorted(map(tuple, call(*args).collect()))
    assert _persistent_rdds(spark) - before == set()
    return rows


@pytest.fixture(scope="module")
def reference(spark, edges, tmp_path_factory):
    """Uninterrupted checkpointed run per operator: (rows, saved iterations)."""
    out = {}
    for name, call in OPERATORS.items():
        cp = CountingCheckpointer(str(tmp_path_factory.mktemp(f"ref_{name}")))
        out[name] = (_leak_free(spark, call, edges, cp, False), cp.saved)
    return out


@pytest.mark.parametrize("name", list(OPERATORS))
def test_kill_and_resume_is_bit_identical(spark, edges, reference, tmp_path, name):
    want, ref_saved = reference[name]
    assert ref_saved == list(range(STEPS + 1))
    call = OPERATORS[name]
    base = str(tmp_path / "cp")
    resume = False
    for k in (1, 2):
        for after_save in (False, True):
            cp = CountingCheckpointer(base, kill_at=k, kill_after=after_save)
            start = (cp.latest() + 1) if resume else 0
            _leak_free(spark, call, edges, cp, resume, killed=True)
            # the rerun replayed exactly the lost supersteps up to the kill
            assert cp.saved == list(range(start, k + 1 if after_save else k))
            assert cp.latest() == (k if after_save else k - 1)
            resume = True
    resumed = CountingCheckpointer(base)
    assert _leak_free(spark, call, edges, resumed, True) == want
    assert resumed.saved == ref_saved[STEPS + 1:]


@pytest.mark.parametrize("killed", [False, True], ids=["ok", "killed"])
def test_louvain_leaves_no_persisted_rdd(spark, edges, tmp_path, killed):
    cp = CountingCheckpointer(str(tmp_path / "cp"), kill_at=2 if killed else None)
    _leak_free(
        spark,
        lambda: louvain(
            edges, weight_col="strength", max_levels=1, max_rounds=2,
            checkpointer=cp,
        ).labels,
        killed=killed,
    )
