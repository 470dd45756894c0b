"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py

- the tracer drops a span to wall time, without raising, when tagging or
  reading Spark's status store fails;
- every output check passes a correct output and catches a corrupted one.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
from sparkenv import unstolen  # noqa: E402
from spans import Tracer, union_seconds  # noqa: E402

# -- tracer -------------------------------------------------------------------


class _Broken:
    """Stands in for any Py4J object: every call raises."""

    def __init__(self, exc):
        self.exc = exc

    def __getattr__(self, name):
        def fail(*a, **k):
            raise self.exc
        return fail


class _FakeContext:
    """A SparkContext whose job tagging works but whose status store fails."""

    def __init__(self, exc, fail_tagging=False):
        self.exc = exc
        self.fail_tagging = fail_tagging
        self.groups = []
        self._jsc = _Broken(exc)

    def setJobGroup(self, group, desc):
        if self.fail_tagging:
            raise self.exc
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return _Broken(self.exc)


@pytest.mark.parametrize("exc", [RuntimeError("py4j gateway gone"),
                                 ConnectionError("answer from Java side is empty")])
@pytest.mark.parametrize("fail_tagging", [False, True])
def test_tracer_degrades_to_wall_time(exc, fail_tagging):
    tracer = Tracer("t", _FakeContext(exc, fail_tagging))
    with tracer.span("pass", "run", tag=False):
        with tracer.span("op", "cooccurrence") as sp:
            time.sleep(0.01)
    assert sp.degraded and not sp.traced
    assert sp.stats == {} and sp.intervals == [] and sp.task_skew is None
    assert sp.wall >= 0.01 and sp.ok
    assert tracer.overhead_s < 0.5
    assert [s.name for s in tracer.spans] == ["op", "pass"]
    assert tracer.spans[0].parent.endswith(":pass")


def test_tracer_keeps_the_calls_own_error():
    tracer = Tracer("t", _FakeContext(RuntimeError("store down")))
    with pytest.raises(ValueError):
        with tracer.span("op", "pagerank"):
            raise ValueError("engine failure")
    sp = tracer.spans[0]
    assert not sp.ok and sp.error.startswith("ValueError") and sp.degraded


def test_untraced_spans_record_parent_and_wall():
    tracer = Tracer("t")
    with tracer.span("pass0", "run", tag=False):
        with tracer.span("op", "lpa"):
            pass
    op, top = tracer.spans
    assert op.parent and op.parent.endswith(":pass0") and top.parent is None
    assert not op.traced and not op.degraded


def test_union_seconds():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_seconds([], 0, 1) == 0


# -- output checks ------------------------------------------------------------


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def _replace(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pa.array(values, type=table.schema.field(col).type))


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    params = dict(inputs.SIZES["corpus_pipeline"], files=60)
    table, meta = inputs.corpus_table(7, params)
    src = os.path.join(d, "input.parquet")
    pq.write_table(table, src)
    prm = {"factor_freq_cap": 10}
    ref = checks.build_reference("corpus_pipeline", src, meta, prm)
    con = ref["con"]
    g = ref["graph"]
    t = table.to_pydict()
    fids = [f"{r}/{p}@{c}" for r, p, c in zip(t["repo"], t["path"], t["commit"])]
    good = {
        "corpus": pa.table({"file_id": fids,
                            "content_sha256": [ref["sha"][f] for f in fids]}),
        "edges": con.execute("SELECT * FROM ref_edges").arrow(),
        "triangles": con.execute("SELECT * FROM ref_tri").arrow(),
        "components": pa.table({"id": g.ids.tolist(),
                                "component": g.ids[ref["comp"]].tolist()}),
        "lpa": pa.table({"id": g.ids.tolist(), "label": g.ids[ref["comp"]].tolist()}),
    }
    assert good["edges"].num_rows > 0 and max(good["triangles"]["triangles"].to_pylist()) > 0
    return d, ref, good


def _corpus_outputs(d, good, name, tag, table):
    tables = dict(good)
    tables[name] = table
    return {k: _write(v, os.path.join(d, tag, k)) for k, v in tables.items()}


def test_corpus_checks_pass_on_correct_outputs(corpus):
    d, ref, good = corpus
    outputs = {k: _write(v, os.path.join(d, "good", k)) for k, v in good.items()}
    found = checks.check_pass("corpus_pipeline", ref, outputs, {"corpus": {"sha256_mismatches": 0}})
    assert set(found) == {"corpus", "edges", "triangles", "components", "lpa"}
    assert not any(found.values()), found


def _first_changed(values, fn):
    values = list(values)
    values[0] = fn(values[0])
    return values


CORPUS_CORRUPTIONS = {
    "sha": ("corpus", lambda t: _replace(t, "content_sha256", _first_changed(
        t["content_sha256"].to_pylist(), lambda s: ("0" if s[0] != "0" else "1") + s[1:]))),
    "frequency": ("edges", lambda t: _replace(t, "frequency", _first_changed(
        t["frequency"].to_pylist(), lambda f: f + 1))),
    "npmi": ("edges", lambda t: _replace(t, "npmi", _first_changed(
        t["npmi"].to_pylist(), lambda x: x + 1e-5))),
    "missing_edge": ("edges", lambda t: t.slice(1)),
    "triangles": ("triangles", lambda t: _replace(t, "triangles", _first_changed(
        t["triangles"].to_pylist(), lambda x: x + 1))),
}


@pytest.mark.parametrize("case", sorted(CORPUS_CORRUPTIONS))
def test_corpus_checks_catch_corruption(corpus, case):
    d, ref, good = corpus
    name, corrupt = CORPUS_CORRUPTIONS[case]
    outputs = _corpus_outputs(d, good, name, case, corrupt(good[name]))
    found = checks.check_pass("corpus_pipeline", ref, outputs, {})
    assert found[name], found
    assert not any(v for k, v in found.items() if k != name), found


def test_components_and_labels_catch_corruption(corpus):
    d, ref, good = corpus
    g = ref["graph"]
    labels = g.ids[ref["comp"]].tolist()
    # a component label that is not its smallest member
    wrong_min = list(labels)
    wrong_min[0] = next(x for x in g.ids.tolist() if x != labels[0])
    # a label that is no vertex at all
    stranger = list(labels)
    stranger[0] = "no/such@file"
    for name, col, bad in (("components", "component", wrong_min),
                           ("lpa", "label", stranger)):
        table = pa.table({"id": g.ids.tolist(), col: bad})
        outputs = _corpus_outputs(d, good, name, f"bad-{name}", table)
        found = checks.check_pass("corpus_pipeline", ref, outputs, {})
        assert found[name], found
    # verify_sha256's own count is reported too
    outputs = _corpus_outputs(d, good, "corpus", "mism", good["corpus"])
    assert checks.check_pass("corpus_pipeline", ref, outputs,
                             {"corpus": {"sha256_mismatches": 2}})["corpus"]


@pytest.fixture(scope="module")
def loops(tmp_path_factory):
    d = tmp_path_factory.mktemp("loops")
    # two components: a weighted 4-cycle with a chord, and one edge
    edges = pa.table({
        "src": np.array([0, 1, 0, 2, 0, 10], dtype=np.int64),
        "dst": np.array([1, 2, 2, 3, 3, 11], dtype=np.int64),
        "weight": np.array([1.0, 2.0, 3.0, 1.0, 5.0, 2.0]),
    })
    src = os.path.join(d, "input.parquet")
    pq.write_table(edges, src)
    prm = {"pagerank_iter": 4, "sssp_iter": 2, "kill_after": 1}
    ref = checks.build_reference("superstep_loops", src, {"source": 0}, prm)
    g = ref["graph"]
    reached = np.isfinite(ref["dist"])
    good = {
        "pagerank_full": pa.table({"id": g.ids, "rank": ref["ranks"]}),
        "resume_a": pa.table({"id": g.ids, "rank": ref["ranks"]}),
        "components": pa.table({"id": g.ids, "component": g.ids[ref["comp"]]}),
        "lpa": pa.table({"id": g.ids, "label": g.ids[ref["comp"]]}),
        "louvain": pa.table({"id": g.ids, "community": g.ids}),
        "mst": pa.table({"src": [0, 1, 2, 10], "dst": [1, 2, 3, 11],
                         "weight": [1.0, 2.0, 1.0, 2.0]}),
        "paths": pa.table({"id": g.ids[reached], "dist": ref["dist"][reached]}),
    }
    return d, ref, good


def _loop_outputs(d, good, tag, **bad):
    tables = dict(good, **bad)
    return {k: _write(v, os.path.join(d, tag, k)) for k, v in tables.items()}


# kill point (a) after superstep 1 of 4: the resume runs supersteps 2-4
RESUMED = {"resume_a": {"replayed_supersteps": 3}}


def test_loop_checks_pass_on_correct_outputs(loops):
    d, ref, good = loops
    found = checks.check_pass("superstep_loops", ref, _loop_outputs(d, good, "good"), RESUMED)
    assert set(found) == {"pagerank_full", "resume_a", "components", "lpa", "louvain",
                          "mst", "paths"}
    assert not any(found.values()), found


@pytest.mark.parametrize("replayed", [None, 2, 4])
def test_resume_must_replay_only_the_lost_supersteps(loops, replayed):
    d, ref, good = loops
    facts = {"resume_a": {"replayed_supersteps": replayed}} if replayed else {}
    found = checks.check_pass("superstep_loops", ref, _loop_outputs(d, good, "good"), facts)
    assert "replayed" in found["resume_a"], found
    assert not any(v for k, v in found.items() if k != "resume_a"), found


def _loop_corruptions(ref, good):
    g = ref["graph"]
    ranks = ref["ranks"]
    one_ulp = np.nextafter(ranks[0], 1.0) - ranks[0]
    comm = g.ids.copy()
    comm[0] = 11  # a vertex of the other component
    # 1 and 3 are not adjacent: grouping them lowers modularity
    worse = g.ids.copy()
    worse[g.index([3])[0]] = 1
    dist = good["paths"]
    # a component label that is not its smallest member (0 and 1 are joined)
    wrong_min = g.ids[ref["comp"]].copy()
    wrong_min[g.index([1])[0]] = 1
    return {
        "pagerank_full": pa.table({"id": g.ids, "rank": ranks * (1 + 1e-5)}),
        "components": pa.table({"id": g.ids, "component": wrong_min}),
        "lpa": pa.table({"id": g.ids, "label": comm}),
        "resume_a": pa.table({"id": g.ids, "rank": ranks + np.eye(1, g.n)[0] * one_ulp}),
        "louvain": pa.table({"id": g.ids, "community": comm}),
        "louvain_modularity": pa.table({"id": g.ids, "community": worse}),
        "mst": _replace(good["mst"], "weight", [1.0, 3.0, 1.0, 2.0]),
        "paths": _replace(dist, "dist", _first_changed(dist["dist"].to_pylist(), lambda x: x + 1)),
        "paths_unreached": dist.slice(1),
    }


@pytest.mark.parametrize("case", ["pagerank_full", "resume_a", "components", "lpa", "louvain",
                                  "louvain_modularity", "mst", "paths", "paths_unreached"])
def test_loop_checks_catch_corruption(loops, case):
    d, ref, good = loops
    name = case.split("_")[0] if case.startswith(("louvain", "paths")) else case
    bad = _loop_corruptions(ref, good)[case]
    found = checks.check_pass("superstep_loops", ref, _loop_outputs(d, good, case, **{name: bad}),
                              RESUMED)
    assert found[name], found
    others = {k: v for k, v in found.items() if k != name and not (
        name == "pagerank_full" and k == "resume_a")}
    assert not any(others.values()), found


def test_unstolen_removes_the_stolen_share():
    # the busy CPUs asked for 40 s and got 30 s: a quarter of the wall was lost
    assert unstolen(10.0, 30.0, 10.0) == 7.5
    assert unstolen(10.0, 30.0, 0.0) == 10.0
    assert unstolen(10.0, 0.0, 0.0) == 10.0


def test_inputs_are_seeded():
    p = dict(inputs.SIZES["superstep_loops"], vertices=100, edges=300, chain=5)
    a, ma = inputs.loop_graph(5, p)
    b, mb = inputs.loop_graph(5, p)
    c, _ = inputs.loop_graph(6, p)
    assert a.equals(b) and ma == mb and not a.equals(c)
