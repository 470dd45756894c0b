"""Independent output checks, run after the timed region.

Every reference here is computed from the generated inputs without the
engine: DuckDB SQL for co-occurrence and triangles, numpy for PageRank,
union-find, Kruskal and Bellman-Ford, ``hashlib`` for the content hashes.
``check_pass`` returns, for each operation whose output it read, an empty
string when the output is right and a one-line reason when it is not.
"""

from __future__ import annotations

import glob
import hashlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RANK_RTOL = 1e-6
NPMI_TOL = 1e-6


# -- references --------------------------------------------------------------


def cooc_reference(con, cap: int) -> None:
    """Table ``ref_edges``: co-occurrence edges of table ``occ(node, factor)``.

    Mirrors the engine's definition: distinct occurrences, document-frequency
    cap on factors, frequency = shared factors, NPMI with the union of
    factors as the instance count, edges with non-positive NPMI dropped.
    """
    con.execute("""CREATE TEMP TABLE d AS SELECT DISTINCT CAST(node AS VARCHAR) AS node,
                   CAST(factor AS VARCHAR) AS factor FROM occ""")
    con.execute(f"""CREATE TEMP TABLE c AS SELECT d.* FROM d JOIN (SELECT factor FROM d
                    GROUP BY factor HAVING count(*) <= {cap}) USING (factor)""")
    con.execute("CREATE TEMP TABLE nf AS SELECT node, count(*)::DOUBLE AS nf FROM c GROUP BY node")
    n = float(con.execute("SELECT count(DISTINCT factor) FROM c").fetchone()[0])
    con.execute("""CREATE TEMP TABLE pr AS
                   SELECT a.node AS src, b.node AS dst, count(*) AS frequency
                   FROM c a JOIN c b ON a.factor = b.factor AND a.node < b.node
                   GROUP BY 1, 2""")
    con.execute(f"""CREATE TABLE ref_edges AS
        WITH mi AS (
            SELECT src, dst, frequency,
                   log2({n} * frequency / (s.nf * t.nf)) AS pmi,
                   -log2(frequency / {n}) AS alpha
            FROM pr JOIN nf s ON s.node = src JOIN nf t ON t.node = dst),
        e AS (SELECT src, dst, frequency,
                     CASE WHEN alpha <> 0 AND pmi / alpha > 0 THEN pmi / alpha
                          ELSE 0.0 END AS npmi
              FROM mi)
        SELECT * FROM e WHERE npmi > 0""")


def triangles_sql(table: str) -> str:
    """Triangles per vertex of the undirected edge table ``table``."""
    return f"""
WITH e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM {table} WHERE src <> dst),
t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
corner AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t),
v AS (SELECT a AS id FROM e UNION SELECT b FROM e)
SELECT v.id, count(corner.id) AS triangles
FROM v LEFT JOIN corner ON v.id = corner.id GROUP BY v.id
"""


class Graph:
    """An undirected weighted graph as dense vertex indices."""

    def __init__(self, src, dst, weight):
        ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.ids = ids
        self.n = len(ids)
        self.u = inv[: len(src)]
        self.v = inv[len(src):]
        self.w = np.asarray(weight, dtype=np.float64)

    def index(self, values) -> np.ndarray:
        """Dense indices of ``values`` (-1 where not a vertex)."""
        values = np.asarray(values)
        pos = np.searchsorted(self.ids, values)
        pos = np.minimum(pos, self.n - 1)
        return np.where(self.ids[pos] == values, pos, -1)

    def components(self) -> np.ndarray:
        """Union-find root (smallest member index) of every vertex."""
        parent = np.arange(self.n)

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(self.u.tolist(), self.v.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return np.array([find(x) for x in range(self.n)])

    def pagerank(self, iters: int, alpha: float = 0.85) -> np.ndarray:
        """Fixed-iteration power method on the symmetrized graph, dangling
        mass spread uniformly (NetworkX semantics)."""
        n = self.n
        s = np.concatenate([self.u, self.v])
        d = np.concatenate([self.v, self.u])
        w = np.concatenate([self.w, self.w])
        out = np.bincount(s, weights=w, minlength=n)
        p = w / out[s]
        dangling = out <= 0
        rank = np.full(n, 1.0 / n)
        for _ in range(iters):
            base = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n
            rank = alpha * np.bincount(d, weights=p * rank[s], minlength=n) + base
        return rank

    def kruskal(self) -> tuple[float, int]:
        """Total weight and edge count of the minimum spanning forest."""
        order = np.lexsort((self.v, self.u, self.w))
        parent = np.arange(self.n)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        total, count = 0.0, 0
        for i in order.tolist():
            ra, rb = find(self.u[i]), find(self.v[i])
            if ra != rb:
                parent[ra] = rb
                total += self.w[i]
                count += 1
        return total, count

    def bellman_ford(self, source: int, rounds: int) -> np.ndarray:
        """Distances after ``rounds`` synchronous relaxation rounds."""
        s = np.concatenate([self.u, self.v])
        d = np.concatenate([self.v, self.u])
        w = np.concatenate([self.w, self.w])
        dist = np.full(self.n, np.inf)
        dist[source] = 0.0
        for _ in range(rounds):
            cand = np.full(self.n, np.inf)
            np.minimum.at(cand, d, dist[s] + w)
            dist = np.minimum(dist, cand)
        return dist

    def modularity(self, labels: np.ndarray) -> float:
        m = self.w.sum()
        k = np.bincount(self.u, weights=self.w, minlength=self.n) + np.bincount(
            self.v, weights=self.w, minlength=self.n
        )
        _, comm = np.unique(labels, return_inverse=True)
        inside = comm[self.u] == comm[self.v]
        internal = np.bincount(comm[self.u][inside], weights=self.w[inside],
                               minlength=comm.max() + 1)
        degree = np.bincount(comm, weights=k)
        return float((internal / m - (degree / (2 * m)) ** 2).sum())


def build_reference(workload: str, input_path: str, meta: dict, prm: dict) -> dict:
    """Everything the checks compare against, computed once per run."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    ref: dict = {"con": con}
    if workload == "corpus_pipeline":
        corpus = pq.read_table(input_path).to_pydict()
        file_ids, shas, occ_node, occ_factor = [], [], [], []
        for repo, path, commit, content in zip(
            corpus["repo"], corpus["path"], corpus["commit"], corpus["content"]
        ):
            fid = f"{repo}/{path}@{commit}"
            file_ids.append(fid)
            shas.append(hashlib.sha256(content.encode()).hexdigest())
            for tok in set(content.split()):
                occ_node.append(fid)
                occ_factor.append(tok)
        ref["sha"] = dict(zip(file_ids, shas))
        con.register("occ", pa.table({"node": occ_node, "factor": occ_factor}))
        cooc_reference(con, prm["factor_freq_cap"])
        edges = con.execute("SELECT src, dst, npmi FROM ref_edges").fetchnumpy()
        con.execute(f"CREATE TABLE ref_tri AS {triangles_sql('ref_edges')}")
        g = Graph(edges["src"].astype(object), edges["dst"].astype(object), edges["npmi"])
        ref["graph"] = g
        ref["comp"] = g.components()
    elif workload == "superstep_loops":
        t = pq.read_table(input_path)
        g = Graph(t["src"].to_numpy(), t["dst"].to_numpy(), t["weight"].to_numpy())
        ref["graph"] = g
        ref["ranks"] = g.pagerank(prm["pagerank_iter"])
        ref["comp"] = g.components()
        ref["mst"] = g.kruskal()
        ref["source"] = meta["source"]
        ref["dist"] = g.bellman_ford(int(g.index([meta["source"]])[0]), prm["sssp_iter"])
        ref["singleton_q"] = g.modularity(np.arange(g.n))
        # supersteps the resume after kill point (a) must run, no more
        ref["replay"] = prm["pagerank_iter"] - prm["kill_after"]
    return ref


# -- per-pass comparisons -------------------------------------------------------


def _read(path: str) -> pa.Table:
    return pq.read_table(path)


def row_count(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{path}/*.parquet"))


def _edges_problem(con, path: str) -> str:
    row = con.execute(
        f"""SELECT count(*) FILTER (WHERE e.src IS NULL),
                   count(*) FILTER (WHERE r.src IS NULL),
                   count(*) FILTER (WHERE r.frequency <> e.frequency),
                   count(*) FILTER (WHERE abs(r.npmi - e.npmi) > {NPMI_TOL})
            FROM ref_edges r FULL OUTER JOIN read_parquet('{path}/*.parquet') e
              ON r.src = e.src AND r.dst = e.dst"""
    ).fetchone()
    names = ("missing edges", "extra edges", "frequency mismatches", "npmi mismatches")
    return "; ".join(f"{n} {c}" for n, c in zip(names, row) if c)


def _vertex_values(g: Graph, table: pa.Table, col: str) -> tuple[np.ndarray, str]:
    """Values of ``col`` in dense vertex order; a reason if the id set differs."""
    idx = g.index(table["id"].to_numpy(zero_copy_only=False))
    if (idx < 0).any() or len(np.unique(idx)) != len(idx) or len(idx) != g.n:
        return np.empty(0), f"vertex set differs ({len(idx)} rows for {g.n} vertices)"
    values = table[col].to_numpy(zero_copy_only=False)
    out = np.empty(g.n, dtype=values.dtype)
    out[idx] = values
    return out, ""


def _ranks_problem(g: Graph, ref_ranks: np.ndarray, path: str) -> str:
    ranks, why = _vertex_values(g, _read(path), "rank")
    if why:
        return why
    bad = np.abs(ranks - ref_ranks) > RANK_RTOL * np.abs(ref_ranks)
    return f"{int(bad.sum())} ranks off by more than {RANK_RTOL:g} relative" if bad.any() else ""


def _components_problem(g: Graph, comp: np.ndarray, path: str) -> str:
    labels, why = _vertex_values(g, _read(path), "component")
    if why:
        return why
    expected = g.ids[comp]  # union-find roots are the smallest members
    bad = int((labels != expected).sum())
    return f"{bad} vertices with a wrong component" if bad else ""


def _labels_problem(g: Graph, comp: np.ndarray, path: str, col: str) -> str:
    """Every label is a vertex id inside that vertex's component."""
    labels, why = _vertex_values(g, _read(path), col)
    if why:
        return why
    li = g.index(labels)
    bad = int(((li < 0) | (comp[np.maximum(li, 0)] != comp)).sum())
    return f"{bad} labels outside their vertex's component" if bad else ""


def _same_file_values(a: str, b: str, col: str) -> str:
    ta = _read(a).sort_by("id")
    tb = _read(b).sort_by("id")
    if ta["id"] != tb["id"]:
        return "vertex set differs from the uninterrupted run"
    va = ta[col].to_numpy()
    vb = tb[col].to_numpy()
    bad = int((va.view(np.int64) != vb.view(np.int64)).sum())
    return f"{bad} values not bit-identical to the uninterrupted run" if bad else ""


def check_pass(workload: str, ref: dict, outputs: dict[str, str],
               facts: dict[str, dict]) -> dict[str, str]:
    """Problem per checked operation ('' = correct)."""
    con = ref["con"]
    out: dict[str, str] = {}

    def check(name, fn):
        if name in outputs:
            try:
                out[name] = fn(outputs[name])
            except Exception as exc:  # noqa: BLE001 - an unreadable output is wrong
                out[name] = f"unreadable output: {type(exc).__name__}: {exc}"[:300]

    g = ref.get("graph")
    if workload == "corpus_pipeline":
        def sha(path):
            t = _read(path).to_pydict()
            wrong = sum(ref["sha"].get(f) != s
                        for f, s in zip(t["file_id"], t["content_sha256"]))
            wrong += abs(len(t["file_id"]) - len(ref["sha"]))
            mism = facts.get("corpus", {}).get("sha256_mismatches", 0)
            return (f"{wrong} content hashes wrong" if wrong else "") + (
                f"; verify_sha256 reported {mism}" if mism else "")

        check("corpus", sha)
        check("edges", lambda p: _edges_problem(con, p))

        def tri(path):
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{path}/*.parquet')")
            n = con.execute("""SELECT count(*) FROM ref_tri r FULL OUTER JOIN got e ON r.id = e.id
                               WHERE e.id IS NULL OR r.id IS NULL OR r.triangles <> e.triangles"""
                            ).fetchone()[0]
            return f"{n} vertices with wrong triangle counts" if n else ""

        check("triangles", tri)
        check("components", lambda p: _components_problem(g, ref["comp"], p))
        check("lpa", lambda p: _labels_problem(g, ref["comp"], p, "label"))
    if workload == "superstep_loops":
        def lv(path):
            why = _labels_problem(g, ref["comp"], path, "community")
            if why:
                return why
            labels, _ = _vertex_values(g, _read(path), "community")
            q = g.modularity(labels)
            return (f"modularity {q:.6f} below the singleton partition's "
                    f"{ref['singleton_q']:.6f}" if q < ref["singleton_q"] else "")

        def mst(path):
            t = _read(path)
            total, count = float(np.sum(t["weight"].to_numpy())), t.num_rows
            want = ref["mst"]
            return ("" if (total, count) == want else
                    f"forest weight {total} over {count} edges, Kruskal {want[0]} over {want[1]}")

        def sssp(path):
            t = _read(path)
            reached = np.isfinite(ref["dist"])
            idx = g.index(t["id"].to_numpy())
            if (idx < 0).any() or len(idx) != int(reached.sum()):
                return f"{len(idx)} reached vertices, Bellman-Ford {int(reached.sum())}"
            got = np.full(g.n, np.inf)
            got[idx] = t["dist"].to_numpy()
            bad = int((got != ref["dist"]).sum())
            return f"{bad} distances differ from Bellman-Ford" if bad else ""

        def resume_a(path):
            why = _same_file_values(path, full, "rank")
            replayed = facts.get("resume_a", {}).get("replayed_supersteps")
            if replayed != ref["replay"]:
                why = "; ".join(filter(None, (
                    why, f"replayed {replayed} supersteps, not {ref['replay']}")))
            return why

        check("pagerank_full", lambda p: _ranks_problem(g, ref["ranks"], p))
        check("components", lambda p: _components_problem(g, ref["comp"], p))
        check("lpa", lambda p: _labels_problem(g, ref["comp"], p, "label"))
        check("louvain", lv)
        check("mst", mst)
        check("paths", sssp)
        full = outputs.get("pagerank_full")
        if full is not None:
            check("resume_a", resume_a)
            check("resume_b", lambda p: _same_file_values(p, full, "rank"))
    return out
