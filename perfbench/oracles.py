"""Independent checks of every timed operation's output.

Nothing here calls the engine: each expected value is recomputed from the
collected input or edge table with NumPy, DuckDB or networkx, outside the
timed region.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

PR_DAMPING = 0.85
PR_RTOL = 1e-6


def _edge_arrays(edges_df) -> tuple[np.ndarray, np.ndarray]:
    pdf = edges_df.toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


class EdgeOracle:
    """Pattern and vertex-program ground truth for one canonical edge table
    (src < dst, ids 1..n)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.src, self.dst = src, dst
        self.n_ids = int(max(src.max(initial=0), dst.max(initial=0))) + 1
        self.deg = np.bincount(np.concatenate([src, dst]), minlength=self.n_ids)
        order = np.argsort(np.concatenate([src, dst]), kind="stable")
        nbr_all = np.concatenate([dst, src])[order]
        bounds = np.concatenate([[0], np.cumsum(self.deg)])
        self.nbrs = [np.sort(nbr_all[bounds[v] : bounds[v + 1]]) for v in range(self.n_ids)]
        self.nbr_sets = [set(a.tolist()) for a in self.nbrs]
        self._wedges()

    def _wedges(self) -> None:
        """Common-neighbour count of every vertex pair that has one, then
        per-edge and per-vertex triangle counts from it."""
        n = self.n_ids
        codes = []
        for nb in self.nbrs:
            if len(nb) >= 2:
                i, j = np.triu_indices(len(nb), 1)
                codes.append(nb[i] * n + nb[j])
        codes = np.concatenate(codes) if codes else np.zeros(0, np.int64)
        self.pair_codes, self.pair_common = np.unique(codes, return_counts=True)
        edge_codes = self.src * n + self.dst
        self.edge_tri = np.zeros(len(self.src), np.int64)
        if len(self.pair_codes):
            idx = np.minimum(np.searchsorted(self.pair_codes, edge_codes), len(self.pair_codes) - 1)
            hit = self.pair_codes[idx] == edge_codes
            self.edge_tri = np.where(hit, self.pair_common[idx], 0)
        tv = np.zeros(n, np.int64)
        np.add.at(tv, self.src, self.edge_tri)
        np.add.at(tv, self.dst, self.edge_tri)
        self.vertex_tri = tv // 2

    def triangles(self) -> int:
        return int(self.edge_tri.sum()) // 3

    def k4(self) -> int:
        total = 0
        for u, v, t in zip(self.src.tolist(), self.dst.tolist(), self.edge_tri.tolist()):
            if t < 2:
                continue
            common = self.nbr_sets[u] & self.nbr_sets[v]
            total += sum(len(self.nbr_sets[w] & common) for w in common) // 2
        return total // 6

    def edge_induced4(self) -> dict[str, int]:
        """Non-induced occurrence counts of the six connected 4-vertex
        graphs, by closed forms over degrees and triangle counts."""
        d, te = self.deg, self.edge_tri
        tri = self.triangles()
        return {
            "star": int((d * (d - 1) * (d - 2) // 6).sum()),
            "path": int(((d[self.src] - 1) * (d[self.dst] - 1)).sum()) - 3 * tri,
            "tailed": int((self.vertex_tri * (d - 2)).sum()),
            "cycle": int((self.pair_common * (self.pair_common - 1) // 2).sum()) // 2,
            "diamond": int((te * (te - 1) // 2).sum()),
            "clique": self.k4(),
        }

    def vertices(self) -> np.ndarray:
        return np.nonzero(self.deg)[0]

    def pagerank(self, steps: int) -> dict[int, float]:
        verts = self.vertices()
        n = len(verts)
        present = self.deg > 0
        s = np.concatenate([self.src, self.dst])
        t = np.concatenate([self.dst, self.src])
        inv_deg = np.zeros(self.n_ids)
        inv_deg[present] = 1.0 / self.deg[present]
        rank = np.where(present, 1.0 / n, 0.0)
        for _ in range(steps):
            inflow = np.bincount(t, weights=rank[s] * inv_deg[s], minlength=self.n_ids)
            rank = np.where(present, (1 - PR_DAMPING) / n + PR_DAMPING * inflow, 0.0)
        return {int(v): float(rank[v]) for v in verts}

    def components(self) -> dict[int, int]:
        parent = list(range(self.n_ids))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(self.src.tolist(), self.dst.tolist()):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {int(v): find(int(v)) for v in self.vertices()}

    def ktruss(self, k: int) -> set[tuple[int, int]]:
        import networkx as nx

        g = nx.Graph()
        g.add_edges_from(zip(self.src.tolist(), self.dst.tolist()))
        return {(min(a, b), max(a, b)) for a, b in nx.k_truss(g, k).edges()}


def induced4(s: dict[str, int]) -> dict[str, int]:
    """Vertex-induced counts from the non-induced ones: invert the
    containment relation between the six graphs (how many copies of each
    sits inside the others)."""
    k4 = s["clique"]
    dia = s["diamond"] - 6 * k4
    cyc = s["cycle"] - dia - 3 * k4
    tail = s["tailed"] - 4 * dia - 12 * k4
    path = s["path"] - 2 * tail - 4 * cyc - 6 * dia - 12 * k4
    star = s["star"] - tail - 2 * dia - 4 * k4
    return {"star": star, "path": path, "tailed": tail, "cycle": cyc,
            "diamond": dia, "clique": k4}


def _motif_kind(pattern) -> str:
    edges = pattern.true_edges()
    deg = sorted(sum(v in e for e in edges) for v in pattern.vertices)
    return {
        (3, (1, 1, 1, 3)): "star",
        (3, (1, 1, 2, 2)): "path",
        (4, (1, 2, 2, 3)): "tailed",
        (4, (2, 2, 2, 2)): "cycle",
        (5, (2, 2, 3, 3)): "diamond",
        (6, (3, 3, 3, 3)): "clique",
    }[(len(edges), tuple(deg))]


# -- ingest ------------------------------------------------------------------

REPO_PAIRS_SQL = r"""
WITH src AS (SELECT repo || ':' || path AS k, commit, content FROM src_table),
imp AS (
  SELECT k AS a, unnest(regexp_extract_all(content, 'import ([^\n]+)', 1)) AS b
  FROM src),
chain AS (
  SELECT a, lag(a) OVER (PARTITION BY commit ORDER BY a) AS b
  FROM (SELECT DISTINCT commit, k AS a FROM src))
SELECT a, b FROM imp
UNION ALL
SELECT a, b FROM chain WHERE b IS NOT NULL
"""

DEGREE_IDS_CTE = """
WITH canon AS (
  SELECT DISTINCT least(a, b) AS s, greatest(a, b) AS d FROM pairs WHERE a <> b),
deg AS (
  SELECT k, count(*) AS degree FROM (
    SELECT s AS k FROM canon UNION ALL SELECT d AS k FROM canon) GROUP BY k),
ids AS (
  SELECT row_number() OVER (ORDER BY degree DESC, k ASC) AS v, k FROM deg)
"""
ID_EDGES_SQL = DEGREE_IDS_CTE + """
SELECT least(i1.v, i2.v), greatest(i1.v, i2.v)
FROM canon JOIN ids i1 ON canon.s = i1.k JOIN ids i2 ON canon.d = i2.k
"""
IDS_SQL = DEGREE_IDS_CTE + "SELECT v, k FROM ids"


def expected_ingest(workload) -> tuple[set, dict, int]:
    """(canonical id edges, {v: key}, raw pair count) recomputed from the
    workload's input table with DuckDB: loops and duplicates dropped, ids
    1..n by (degree desc, key asc)."""
    import duckdb

    con = duckdb.connect()
    try:
        if workload.name == "repo_headline":
            con.register(
                "src_table",
                workload.input.select("repo", "path", "commit", "content").toArrow(),
            )
            con.execute(f"CREATE TABLE pairs AS {REPO_PAIRS_SQL}")
            raw = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
        else:
            con.register("raw", workload.input.select("src", "dst").toArrow())
            con.execute("CREATE TABLE pairs AS SELECT src AS a, dst AS b FROM raw")
            raw = workload.sizes.hub_samples  # sampled pairs, before dedup
        edges = set(map(tuple, con.execute(ID_EDGES_SQL).fetchall()))
        ids = dict(con.execute(IDS_SQL).fetchall())
    finally:
        con.close()
    return edges, ids, int(raw)


# -- checks ------------------------------------------------------------------


def check_ops(workload, graph, results: dict, steps: int, ktruss_k: int) -> tuple[dict, dict]:
    """Check the results of the operations in ``results`` (any subset of
    the mix), all computed on ``graph``. Returns ({op: error or None},
    facts) where facts feed the per-layer metrics (sizes and match totals;
    those of operations not checked are left out)."""
    errors: dict[str, str | None] = {}
    src, dst = _edge_arrays(graph.edges)
    oracle = EdgeOracle(src, dst)
    facts: dict[str, int] = {"edges": len(src)}

    if "ingest" in results:
        got_edges = set(zip(src.tolist(), dst.tolist()))
        want_edges, want_ids, raw_pairs = expected_ingest(workload)
        got_ids = {r["v"]: r["key"] for r in graph.vertices.select("v", "key").collect()}
        errors["ingest"] = (
            None if got_edges == want_edges and got_ids == want_ids and len(src) == len(got_edges)
            else f"ingest: {len(got_edges)} edges/{len(got_ids)} ids, "
            f"want {len(want_edges)}/{len(want_ids)}"
        )
        facts.update(vertices=len(got_ids), raw_pairs=raw_pairs)

    if "triangles" in results:
        tri = oracle.triangles()
        got_tri = results["triangles"][1]
        errors["triangles"] = None if got_tri == tri else f"triangles {got_tri} != {tri}"

    if "pagerank" in results:
        want_pr = oracle.pagerank(steps)
        pr = results["pagerank"][1]
        got_pr = {int(r["v"]): r["rank"] for r in pr.state.collect()}
        ok = got_pr.keys() == want_pr.keys() and np.allclose(
            [got_pr[v] for v in want_pr], list(want_pr.values()), rtol=PR_RTOL, atol=0.0
        )
        errors["pagerank"] = (
            None if ok and pr.iterations == steps else f"pagerank differs ({pr.iterations} steps)"
        )

    if "cc" in results:
        cc = results["cc"][1]
        got_cc = {int(r["v"]): int(r["comp"]) for r in cc.state.collect()}
        errors["cc"] = (
            None if cc.converged and got_cc == oracle.components() else "cc components differ"
        )

    if "motifs4" in results or "output" in results:
        edge4 = oracle.edge_induced4()
        want_m = induced4(edge4)
        facts["edge_induced4"] = sum(edge4.values())
    if "motifs4" in results:
        got_m = {_motif_kind(p): int(c) for p, c in results["motifs4"][1]}
        errors["motifs4"] = None if got_m == want_m else f"motifs4 {got_m} != {want_m}"

    if "ktruss" in results:
        got_kt = {(int(r["src"]), int(r["dst"])) for r in results["ktruss"][1].collect()}
        errors["ktruss"] = None if got_kt == oracle.ktruss(ktruss_k) else "ktruss edges differ"

    if "output" in results:
        rows, nbytes = read_output(results["output"][1])
        k4 = want_m["clique"]
        rows_ok = len(rows) == k4 and len({tuple(sorted(r)) for r in rows}) == k4 and all(
            b in oracle.nbr_sets[a] for r in rows for a in r for b in r if a != b
        )
        errors["output"] = None if rows_ok else f"output {len(rows)} rows, want {k4} 4-cliques"
        facts.update(output_rows=len(rows), output_bytes=nbytes)
    return errors, facts


def read_output(path: Path) -> tuple[list[tuple], int]:
    """Rows and on-disk bytes of the match files written by ``output``."""
    import pyarrow.parquet as pq

    files = sorted(p for p in Path(path).rglob("*.parquet"))
    rows: list[tuple] = []
    for f in files:
        t = pq.read_table(f)
        rows.extend(zip(*[t.column(c).to_pylist() for c in t.column_names]))
    return rows, sum(f.stat().st_size for f in files)
