"""Connected components via alternating large-star / small-star joins.

North-rule addition (the reference has no CC operator; oracle =
``nx.connected_components`` with min-id canonical labels). Algorithm:
Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
in MapReduce and Beyond" (SOCC'14): repeat

  large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u
  small-star(u): over the resulting downhill edges (v ≤ u), m = min(Γ(u) ∪
                 {u}); emit (x, m) for x ∈ Γ(u) ∪ {u}, x ≠ m

until the edge set is stable — O(log n) rounds, at which point the edges
form star forests: every node points at its component's minimum id. Each
round executes two clustered-cache builds (the symmetrized working set and
the large-star output, both repartitioned by their star key) plus at most
the final distinct's shuffle; the min-aggregations and redirect joins all
read the caches (see ``_cc_round`` and the plan-guard test — the unshared
formulation executed 10 shuffles per round). Ids keep their native type;
labels are the minimum id of each component under that type's ordering
(numeric for integer ids, lexicographic for strings).

Each round's edge set runs through ``SuperstepCheckpointer`` when supplied
(lineage cut + resume, north rule); otherwise ``localCheckpoint`` cuts
lineage. Convergence is detected with a (count, bit_xor(xxhash64)) signature
— order-insensitive, overflow-free under ANSI SQL (``sum(xxhash64)`` threw
ARITHMETIC_OVERFLOW on ≥2 rows with ``spark.sql.ansi.enabled=true``) — that
rides each round's materialization job as ``observe`` metrics, including the
initial one: no extra pass over the edges anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop


@dataclass
class ComponentsResult:
    components: DataFrame  # (id, component)
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)
    # physical plan + executed shuffle count of the first round's output
    # (pre-materialization), for the exchange-budget plan-guard test
    round_plan: str | None = None
    round_exchanges: int | None = None


def _signature(m: dict[str, Any], last: dict[str, Any] | None) -> dict[str, Any]:
    """(count, bit_xor of per-row xxhash64) — the convergence signature.

    ``bit_xor`` is order-insensitive and cannot overflow, so it is safe under
    ``spark.sql.ansi.enabled=true`` (a ``sum`` of 64-bit hashes overflows long
    on the second row). Edge sets are distinct within a round, so XOR-
    cancellation of duplicate rows cannot occur. The round converged when
    its signature equals the previous round's.
    """
    sig = (int(m["rows"]), int(m["h"] or 0))
    prev = (last or {}).get("sig_cnt"), (last or {}).get("sig_hash")
    return {"sig_cnt": sig[0], "sig_hash": sig[1], "converged": sig == prev}


def _sig_hash():
    return F.bit_xor(F.xxhash64("a", "b")).alias("h")


def _large_star(e: DataFrame) -> DataFrame:
    # No distinct here: duplicate (a, m) rows across star centers are
    # harmless to small-star's min aggregate and are swept by its final
    # distinct — dropping the dedup saves one full shuffle per round.
    sym = e.select("a", "b").unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("_mv"))
    mins = mins.select("a", F.least("_mv", F.col("a")).alias("_m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    # input edges point downhill (b < a); group neighbors by a
    mins = e.groupBy("a").agg(F.min("b").alias("_m"))
    redirect = (
        e.join(mins, "a")
        .filter(F.col("b") != F.col("_m"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )
    self_edge = mins.select("a", F.col("_m").alias("b"))
    return redirect.unionByName(self_edge).distinct()


def _cc_round(
    e: DataFrame, n_parts: int, persist: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """One large-star + small-star round with an explicit exchange budget.

    Semantically identical to ``_small_star(_large_star(e))`` (the
    reference formulation, kept above for unit tests), but each star's
    working set is repartitioned by its grouping key, sorted, and persisted
    ONCE — the min-aggregation and the redirect join then both read the
    clustered cache, so the round executes 3 shuffles (sym layout, ls
    layout, final distinct) instead of the 10 the naive plan runs when the
    unpersisted union is recomputed on both consumer branches. Skew safety
    is unchanged: min is still a partial-aggregating groupBy, never a
    whole-group window buffer. ``persist`` caches the two working sets
    until the round's output is materialized.
    """
    sym = persist(
        e.select("a", "b")
        .unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(n_parts, "a")
        .sortWithinPartitions("a")
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("_mv"))
    mins = mins.select("a", F.least("_mv", F.col("a")).alias("_m"))
    ls = persist(
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .repartition(n_parts, "a")
        .sortWithinPartitions("a")
    )
    mins2 = ls.groupBy("a").agg(F.min("b").alias("_m"))
    redirect = (
        ls.join(mins2, "a")
        .filter(F.col("b") != F.col("_m"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )
    return redirect.unionByName(mins2.select("a", F.col("_m").alias("b"))).distinct()


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 50,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
    partitions: int | None = None,
) -> ComponentsResult:
    """Component labels for an undirected edge DataFrame ``(src, dst)``.

    Returns (id, component) where component = min id of the node's
    component. ``nodes`` optionally supplies isolated vertices.

    Loop discipline (same as :func:`pagerank`): the shuffle width is sized
    from the measured edge count (~250k rows/partition) and AQE is frozen
    for the fixed-shape round plans — both pinned on the loop's own
    ``newSession()`` of the caller's SparkContext, so the caller's conf is
    never mutated and concurrent planning on it is unaffected.
    """
    with SuperstepLoop(
        edges.sparkSession, checkpointer, resume, partitions, max_rounds
    ) as loop:
        edges = loop.rebind(edges)
        if nodes is not None:
            nodes = loop.rebind(nodes)
        # Ids keep their native type (numeric min for longs, lexicographic
        # min for strings): long comparisons and shuffles are several times
        # cheaper than strings at 10^9-vertex scale, and every step below
        # only needs an orderable, hashable id type.
        e = (
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # The signature rides every materialization job as observed
        # metrics, the initial one included: no extra pass over the edges.
        loop.start(e, [_sig_hash()], _signature)
        if not loop.done:
            # Freeze the plan for the loop: the round plan is fixed-shape
            # over a small known-size state, so AQE's per-stage driver
            # re-planning is pure serial overhead, and the shuffle width
            # should match the data, not the session default. (At sandbox
            # scale the win is modest — ~16s -> ~11s for cc_orders at sf0.1,
            # the floor being per-stage fixed costs — but at cluster scale a
            # mis-sized width is the difference between 1 task wave and
            # thousands of empty tasks.)
            n_parts = loop.width(lambda: loop.last.get("sig_cnt"))
            loop.freeze(n_parts)
            loop.run(
                lambda e, _: _cc_round(e, n_parts, loop.step_cache),
                [_sig_hash()],
                _signature,
            )
        e = loop.state

    # stars: (a=child, b=root). Roots + isolated nodes label themselves.
    members = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    comp = members.unionByName(roots)
    if nodes is not None:
        id_type = dict(edges.dtypes).get("src", "string")
        vs = nodes.select(
            F.col(nodes.columns[0]).cast(id_type).alias("id")
        ).distinct()
        isolated = vs.join(comp.select("id"), "id", "left_anti").withColumn(
            "component", F.col("id")
        )
        comp = comp.unionByName(isolated)
    # a node can appear in members only once at convergence; distinct guards
    # the non-converged (max_rounds hit) case
    comp = comp.groupBy("id").agg(F.min("component").alias("component"))
    return ComponentsResult(
        loop.output(comp), loop.iteration, loop.converged, loop.history,
        loop.plan, loop.exchanges,
    )
