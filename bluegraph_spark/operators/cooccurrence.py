"""Co-occurrence edge-table builder — the engine's core ingest operator.

Reference semantics: ``CooccurrenceGenerator``
(/root/reference/bluegraph/preprocess/generators.py:155-431): two nodes
co-occur when their *factor sets* intersect (factors = values of a set-valued
node property, or shared edge targets of a given edge type). For every
unordered co-occurring pair the reference emits one edge with the common
factors and statistics frequency / PPMI / NPMI
(generators.py:76-138), where

- ``frequency(s,t)`` = |factors(s) ∩ factors(t)|
- ``s_freq`` = |factors(s)|
- ``total_factor_instances`` defaults to |∪ factors| (generators.py:363-376).

The reference scans all n(n-1)/2 pairs with a multiprocessing pool
(generators.py:272-328). Spark-first replacement: represent occurrences as a
long table ``(node, factor)``, aggregate it once per factor into a sorted
node list, and emit each factor's node pairs followed by a pair aggregation
— the shuffle and AQE replace the worker pool, and only genuinely
co-occurring pairs are ever materialized.

Scale notes (100 TB design):
- A factor with f nodes yields f(f-1)/2 pairs: the classic skew site. The
  per-factor aggregation measures f, and each factor is treated by its own
  size, with no caller knob. A factor of at most ``HOT_FACTOR_NODES`` nodes
  emits its pairs in place, in the task that aggregated it. A hotter factor
  is cut into ``k = ceil(f / HOT_FACTOR_NODES)`` chunks of its sorted node
  list, and its k(k+1)/2 chunk-pair blocks spread over the shuffle width, so
  a hub slows its job down without stalling it in one task (SURVEY §4:
  salt only the hot keys).
- ``factor_freq_cap`` drops factors above a document-frequency cap —
  semantically the reference's min-occurrence / top-n vocabulary pruning,
  cord19kg/utils.py:618-651. A cap at or below ``HOT_FACTOR_NODES`` leaves
  the hot-factor branch out of the plan.
- ``common_factors`` materializes the intersection sets and is opt-in only:
  shuffling per-pair factor arrays at 10^12-file scale is prohibitive
  (SURVEY.md §7.5).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.functions.mi import mutual_information_col
from bluegraph_spark.plans.planinfo import plan_has_python_stage

STATISTICS = ("frequency", "ppmi", "npmi", "expected", "pmi2", "pmi3")

# Factors with more distinct nodes than this are hot: their pairs are built
# in chunk-pair blocks spread across tasks instead of inside one task.
HOT_FACTOR_NODES = 1024


def occurrences_from_node_property(
    nodes: DataFrame, id_col: str = "id", prop_col: str = "factors"
) -> DataFrame:
    """(node, factor) long table from a set-valued node property.

    Mirrors ``generate_from_nodes(node_property=...)``
    (generators.py:352-383); the array column is exploded and de-duplicated
    (reference cells are Python sets).
    """
    return (
        nodes.select(
            F.col(id_col).cast("string").alias("node"),
            F.explode(prop_col).alias("factor"),
        )
        .select("node", F.col("factor").cast("string").alias("factor"))
        .distinct()
    )


def occurrences_from_edges(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    type_col: str | None = None,
    edge_type: str | None = None,
    reverse: bool = False,
) -> DataFrame:
    """(node, factor) table from typed edges: factor = shared edge target.

    Mirrors ``generate_from_edges`` (generators.py:385-431); ``reverse``
    swaps the roles of source and target (generators.py:185-195).
    """
    if type_col is not None and edge_type is not None:
        edges = edges.filter(F.col(type_col) == edge_type)
    node, factor = (dst_col, src_col) if reverse else (src_col, dst_col)
    return edges.select(
        F.col(node).cast("string").alias("node"),
        F.col(factor).cast("string").alias("factor"),
    ).distinct()


def occurrences_from_aggregator(
    df: DataFrame,
    node_col: str,
    factor_aggregator,
) -> DataFrame:
    """(node, factor) table from a custom per-node factor aggregator.

    The reference's ``factor_aggregator`` / ``aggregation_function`` hook
    (generators.py:88-104, 176-195; exercised by cord19kg's
    ``aggregate_paragraphs``, tests/preprocess/test_co_occurrence_generators.py:88-97):
    an arbitrary Python function applied to all of a node's rows that returns
    the node's factor collection. Spark-side this is an ``applyInPandas``
    group map — the aggregator sees the node's full group as a pandas
    DataFrame and returns any iterable of factors; Arrow moves the batches,
    and the shuffle is one hash partitioning on the node key.

    Use the pure-Catalyst builders (:func:`occurrences_from_node_property`,
    :func:`occurrences_from_edges`) whenever the aggregation is expressible
    as explode/union — this hook is the escape hatch for genuinely custom
    Python aggregation logic, per the engine's UDF policy (SURVEY §2.12).
    """
    import pandas as pd

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        factors = factor_aggregator(pdf)
        uniq = sorted({str(f) for f in factors})
        return pd.DataFrame({"node": [str(key[0])] * len(uniq), "factor": uniq})

    return df.groupBy(F.col(node_col)).applyInPandas(
        emit, schema="node string, factor string"
    )


def keep_top_n_nodes(
    occ: DataFrame,
    n: int,
    min_occurrences: int | None = None,
) -> DataFrame:
    """Top-n frequent-vocabulary pruning of a (node, factor) table.

    The reference's primary scale knob: keep only the ``n`` nodes with the
    largest factor-set size before edge generation
    (``nlargest(n_most_frequent, freq)``, cord19kg/utils.py:646-651 — "10,000
    most frequent entities", README.rst:177-179), optionally dropping nodes
    with fewer than ``min_occurrences`` factors first (utils.py:618-621).

    Ties at the cutoff break deterministically by node id ascending (pandas
    ``nlargest`` keeps first-encountered, which depends on frame order; a
    distributed engine must pick a stable total order instead).

    The surviving vocabulary is at most n rows — broadcast into the semi-join
    for any n a co-occurrence analysis would use, so pruning costs one
    aggregation and no extra shuffle of the occurrence table.
    """
    nf = occ.groupBy("node").agg(F.count("*").alias("_nf"))
    if min_occurrences is not None:
        nf = nf.filter(F.col("_nf") >= min_occurrences)
    top = nf.orderBy(F.desc("_nf"), F.asc("node")).limit(n).select("node")
    # Broadcast hint only while the vocabulary is safely executor-resident:
    # 1M string ids is tens of MB serialized; beyond that the hint would
    # bypass autoBroadcastJoinThreshold and risk driver/executor OOM, so let
    # AQE pick the strategy from the measured size instead (the semi-join is
    # correct either way).
    if n <= 1_000_000:
        top = F.broadcast(top)
    return occ.join(top, "node", "left_semi")


def _factor_groups(occ: DataFrame) -> DataFrame:
    """One row per factor: ``_ns`` its sorted distinct nodes, ``_fc`` its size.

    ``collect_set`` deduplicates repeated occurrence rows, so no separate
    ``distinct`` runs. ``_fc`` counts a NULL node too (``collect_set`` skips
    it), as the cap always has. The NULL factor is a group of its own: it
    counts toward its nodes' marginals but never pairs them.
    """
    return occ.select(
        F.col("node").cast("string").alias("node"),
        F.col("factor").cast("string").alias("factor"),
    ).groupBy("factor").agg(
        F.array_sort(F.collect_set("node")).alias("_ns"),
        (
            F.size(F.collect_set("node"))
            + F.max(F.col("node").isNull()).cast("int")
        ).alias("_fc"),
    )


def _later_pairs(blocks: DataFrame, diagonal) -> DataFrame:
    """(s, t, factor): each node s of ``_a`` with the nodes t of ``_b``.

    On a ``diagonal`` row ``_a`` and ``_b`` are the same sorted list and t
    runs over the nodes after s; otherwise every node of ``_b`` sorts after
    every node of ``_a``. ``posexplode`` + ``slice`` + ``explode`` are
    codegen'd generators, so the pairs come out in place, with no shuffle.
    """
    later = F.slice("_b", F.col("_p") + 2, F.size("_b"))
    return blocks.select(
        "factor", "_b", diagonal.alias("_d"), F.posexplode("_a").alias("_p", "s")
    ).select(
        "s",
        F.explode(F.when(F.col("_d"), later).otherwise(F.col("_b"))).alias("t"),
        "factor",
    )


def _hot_blocks(groups: DataFrame) -> DataFrame:
    """Chunk-pair blocks of each factor, spread over the shuffle width.

    The sorted node list is cut into k = ceil(f / HOT_FACTOR_NODES)
    consecutive chunks, and each block (i, j) with i <= j carries chunk i
    as ``_a`` and chunk j as ``_b``, so every pair lies in exactly one
    block. The blocks are repartitioned to the session's shuffle width: AQE
    never coalesces an explicit repartition, and it would otherwise fold
    the blocks (tiny input, quadratic output) back into one task.
    """
    width = int(groups.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    last = F.ceil(F.size("_ns") / HOT_FACTOR_NODES).cast("int") - 1

    def chunk(c):
        return F.slice("_ns", F.col(c) * HOT_FACTOR_NODES + 1, HOT_FACTOR_NODES)

    i = F.explode(F.sequence(F.lit(0), last)).alias("_i")
    j = F.explode(F.sequence("_i", last)).alias("_j")
    return (
        groups.select("factor", "_ns", i)
        .select("factor", "_ns", "_i", j)
        .select("factor", "_i", "_j", chunk("_i").alias("_a"), chunk("_j").alias("_b"))
        .repartition(width, "factor", "_i", "_j")
    )


def _pair_instances(
    groups: DataFrame, factor_freq_cap: int | None = None
) -> DataFrame:
    """One row per (s, t, factor) with s < t, each factor treated by its size.

    The hot branch is left out of the plan when the cap rules hot factors out.
    """
    groups = groups.filter(F.col("factor").isNotNull())
    ordinary = groups.filter(F.col("_fc") <= HOT_FACTOR_NODES).select(
        "factor", F.col("_ns").alias("_a"), F.col("_ns").alias("_b")
    )
    pairs = _later_pairs(ordinary, F.lit(True))
    if factor_freq_cap is None or factor_freq_cap > HOT_FACTOR_NODES:
        blocks = _hot_blocks(groups.filter(F.col("_fc") > HOT_FACTOR_NODES))
        pairs = pairs.unionByName(
            _later_pairs(blocks, F.col("_i") == F.col("_j"))
        )
    return pairs


def cooccurrence_edges(
    occ: DataFrame,
    statistics: Sequence[str] = ("frequency",),
    total_factor_instances: int | None = None,
    keep_common_factors: bool = False,
    factor_freq_cap: int | None = None,
    min_frequency: int | None = None,
    prune_zero_mi: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Build the co-occurrence edge table from a (node, factor) table.

    Returns ``(src, dst, <statistics...>[, common_factors])`` with
    ``src < dst`` (canonical undirected form; the reference's
    source-index < target-index ordering, generators.py:204, reduces to the
    same unordered pair set).

    ``factor_freq_cap``: drop factors with more than this many nodes.
    ``prune_zero_mi``: name of a computed MI column; rows with value <= 0 are
    dropped (reference cord19kg/utils.py:661-662).
    ``limit``: keep at most n edges — like the reference's early-exit limit
    (generators.py:238-243) the *choice* of edges is not deterministic.

    An occurrence plan with a Python/Arrow stage (the
    :func:`occurrences_from_aggregator` hook) would re-run on each of the
    plan's three reads of the factor groups, so there the groups are
    persisted and the edge table is materialized (``localCheckpoint``)
    before returning. A pure-Catalyst input stays a lazy plan.
    """
    for s in statistics:
        if s not in STATISTICS:
            raise ValueError(f"unknown statistic {s!r}; supported: {STATISTICS}")

    materialize = plan_has_python_stage(occ)
    groups = _factor_groups(occ)
    if factor_freq_cap is not None:
        groups = groups.filter(
            F.col("factor").isNotNull() & (F.col("_fc") <= factor_freq_cap)
        )
    if materialize:
        groups = groups.persist()

    pairs = _pair_instances(groups, factor_freq_cap)
    aggs = [F.count("*").alias("frequency")]
    if keep_common_factors:
        aggs.append(F.sort_array(F.collect_set("factor")).alias("common_factors"))
    edges = pairs.groupBy(F.col("s").alias("src"), F.col("t").alias("dst")).agg(*aggs)

    if any(s != "frequency" for s in statistics):
        node_freq = (
            groups.select(F.explode("_ns").alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("_nf"))
        )
        edges = (
            edges.join(node_freq.withColumnRenamed("node", "src"), "src")
            .withColumnRenamed("_nf", "_s_freq")
            .join(node_freq.withColumnRenamed("node", "dst"), "dst")
            .withColumnRenamed("_nf", "_t_freq")
        )
        if total_factor_instances is not None:
            total = F.lit(total_factor_instances)
        else:
            # Reference default: |union of all factor sets| (generators.py:
            # 363-376), one group per factor, as a broadcast 1-row scalar.
            totals = groups.agg(F.count("factor").alias("_total_factors"))
            edges = edges.crossJoin(F.broadcast(totals))
            total = F.col("_total_factors")
        for stat in statistics:
            if stat == "frequency":
                continue
            mitype = None if stat == "ppmi" else ("normalized" if stat == "npmi" else stat)
            edges = edges.withColumn(
                stat,
                mutual_information_col(
                    F.col("frequency"), F.col("_s_freq"), F.col("_t_freq"), total, mitype
                ),
            )

    extra = ["common_factors"] if keep_common_factors else []
    edges = edges.select("src", "dst", *statistics, *extra)

    if min_frequency is not None:
        edges = edges.filter(F.col("frequency") >= min_frequency)
    if prune_zero_mi is not None:
        edges = edges.filter(F.col(prune_zero_mi) > 0)
    if limit is not None:
        edges = edges.limit(limit)
    if materialize:
        edges = edges.localCheckpoint()
        groups.unpersist()
    return edges


def cooccurrence_edges_multiset(
    occ_counts: DataFrame,
    min_frequency: int | None = None,
) -> DataFrame:
    """Multiset co-occurrence: frequency = Σ_f min(count_s(f), count_t(f)).

    Reference ``safe_intersection`` list branch
    (/root/reference/bluegraph/core/utils.py:59-74): when factor collections
    are lists, the intersection is a multiset with per-key min counts.
    ``occ_counts`` has columns (node, factor, cnt).
    """
    a, b = occ_counts.alias("a"), occ_counts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.factor") == F.col("b.factor")) & (F.col("a.node") < F.col("b.node")),
    ).select(
        F.col("a.node").alias("src"),
        F.col("b.node").alias("dst"),
        F.least(F.col("a.cnt"), F.col("b.cnt")).alias("_m"),
    )
    edges = pairs.groupBy("src", "dst").agg(F.sum("_m").alias("frequency"))
    if min_frequency is not None:
        edges = edges.filter(F.col("frequency") >= min_frequency)
    return edges
