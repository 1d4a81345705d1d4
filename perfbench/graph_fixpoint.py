"""``graph_fixpoint``: the iterative graph operators, from scratch and
incrementally.

The graph is a forest of small trees of fixed shapes plus one chain, the
deepest component, so every seed has the same component sizes and depths
and the fixpoint loops run the same number of rounds. The seed draws the
node ids (each component's root keeps its least id, the label the
operators converge to), which parent at the level above each node hangs
from, and the weights. The insert batch hangs a path of new nodes off a
root, bridges pairs of roots and adds a chord from each deep tree's root
to one of its leaves.

The stored results the incremental operators maintain (component labels,
their spanning forest, distances) are written once, in set-up, from the
references the full operations are checked against. A round
runs the *full* operations pagerank, connected_components and
sssp_distances over the base graph, writing their results as parquet, then
the *delta* operations apply_components_delta_forest and
apply_sssp_inserts, which fold the insert batch into the stored results
and write the new ones. ``graph_delta.spanning_forest`` is left out of
the rounds because the number of broadcast jobs it runs varies from call to
call.
Every result is checked against union-find, Dijkstra and numpy power
iteration computed here.
"""

from __future__ import annotations

import heapq
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import DELTA, FULL, Op, Workload

# nodes per level, root first; trees cycle through these shapes
SHAPES = ((1, 3, 6), (1, 2, 4), (1, 1, 1, 1), (1, 4), (1, 2))
N_TREES = 150
CHAIN = 5  # nodes in the chain: depth 4, deeper than any tree
NEW_PATH = 3  # new nodes hung off a root: longer than any other insert path
N_BRIDGES = 20  # root-to-root edges between disjoint pairs of trees
PAGERANK_ITERS = 3
N_INSERTS = NEW_PATH + N_BRIDGES + sum(1 for i in range(N_TREES) if len(SHAPES[i % len(SHAPES)]) > 2)
LAYERS = ("graph.pagerank", "dedup.components", "graph.sssp", "graph_delta.components", "graph_delta.sssp")


def generate_graph(seed: int):
    """(edges, inserts, weight, roots): canonical (a < b) edges."""
    rng = np.random.default_rng(seed)
    shapes = [SHAPES[i % len(SHAPES)] for i in range(N_TREES)] + [(1,) * CHAIN]
    n_old = sum(sum(s) for s in shapes)
    ids = iter(rng.permutation(n_old) + 1)
    edges: list[tuple[int, int]] = []
    roots, leaves = [], []
    for shape in shapes:
        levels = [[int(next(ids)) for _ in range(size)] for size in shape]
        flat = sorted(v for level in levels for v in level)
        # the least id goes to the root: label propagation then needs as
        # many rounds as the tree is deep, whatever the seed
        least = flat[0]
        for level in levels:
            if least in level:
                level[level.index(least)] = levels[0][0]
        levels[0][0] = least
        for upper, lower in zip(levels, levels[1:]):
            for v in lower:
                u = upper[int(rng.integers(len(upper)))]
                edges.append((min(u, v), max(u, v)))
        roots.append(least)
        leaves.append(levels[-1][int(rng.integers(len(levels[-1])))] if len(shape) > 2 else None)
    path = [roots[0]] + list(range(n_old + 1, n_old + 1 + NEW_PATH))
    inserts = list(zip(path, path[1:]))
    for k in range(N_BRIDGES):
        a, b = roots[1 + 2 * k], roots[2 + 2 * k]
        inserts.append((min(a, b), max(a, b)))
    for root, leaf in zip(roots[:N_TREES], leaves):
        if leaf is not None:
            inserts.append((min(root, leaf), max(root, leaf)))
    assert len(inserts) == N_INSERTS and not set(inserts) & set(edges)
    weight = {e: int(rng.integers(1, 10)) for e in edges + inserts}
    return sorted(edges), sorted(inserts), weight, sorted(roots)
def union_find(nodes, edges) -> dict[int, int]:
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # the operators label a component by its least node id
    return {v: find(v) for v in nodes}


def dijkstra(edges, weight, sources) -> dict[int, int]:
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append((b, weight[(a, b)]))
        adj.setdefault(b, []).append((a, weight[(a, b)]))
    dist = {s: 0 for s in sources}
    heap = [(0, s) for s in sources]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, d):
            continue
        for v, w in adj.get(u, ()):
            if d + w < dist.get(v, 1 << 62):
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return dist


def power_iteration(edges, iters: int, damping: float = 0.85) -> dict[int, float]:
    """PageRank over the DIRECTED edges (a -> b, a < b), the documented
    rule: pr' = (1-d)/N + d * (sum of in-contributions + D/N), with D the
    rank held by nodes without out-links; every round rounds to 12 dp."""
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[a] for a, _ in edges])
    dst = np.array([idx[b] for _, b in edges])
    outdeg = np.bincount(src, minlength=n).astype(float)
    dangling = outdeg == 0
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=pr[src] / outdeg[src], minlength=n)
        d_share = np.round(pr[dangling].sum() / n, 12)
        pr = np.round((1.0 - damping) / n + damping * (contrib + d_share), 12)
    return {v: float(pr[idx[v]]) for v in nodes}


class GraphFixpoint(Workload):
    name = "graph_fixpoint"
    warmup_rounds = 2
    min_rounds = 3

    def generate(self, seed: int) -> dict:
        edges, inserts, weight, roots = generate_graph(seed)
        self.edges = edges
        old_nodes = sorted({v for e in edges for v in e})
        new_nodes = sorted({v for e in edges + inserts for v in e})
        self.ref = {
            "pagerank": power_iteration(edges, PAGERANK_ITERS),
            "components": union_find(old_nodes, edges),
            "sssp": dijkstra(edges, weight, roots),
            "components_delta": union_find(new_nodes, edges + inserts),
            "sssp_delta": dijkstra(edges + inserts, weight, roots),
        }
        os.makedirs(self.data_dir, exist_ok=True)
        sizes = {}
        for name, rows in (("edges", edges), ("inserts", inserts)):
            path = os.path.join(self.data_dir, f"{name}.parquet")
            pq.write_table(pa.table({
                "a": pa.array([a for a, _ in rows], pa.int64()),
                "b": pa.array([b for _, b in rows], pa.int64()),
                "w": pa.array([weight[e] for e in rows], pa.int64()),
            }), path)
            sizes[name] = {"rows": len(rows), "bytes": os.path.getsize(path)}
        for name, rows in (("nodes", old_nodes), ("sources", roots)):
            pq.write_table(pa.table({"node": pa.array(rows, pa.int64())}),
                           os.path.join(self.data_dir, f"{name}.parquet"))
            sizes[name] = {"rows": len(rows)}
        return sizes

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.classic.dataframe import DataFrame

        super().prepare(spark)
        read = lambda f: spark.read.parquet(os.path.join(self.data_dir, f))  # noqa: E731
        edges, inserts = read("edges.parquet"), read("inserts.parquet")
        self.nodes = read("nodes.parquet")
        self.sources = read("sources.parquet")
        self.directed = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        self.pairs = edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        self.weighted = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        self.delta_pairs = inserts.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"), F.lit(1).alias("op"))
        self.pairs_new = self.pairs.unionByName(inserts.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")))
        self.delta_w = inserts.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        self.weighted_new = self.weighted.unionByName(self.delta_w)
        self.stored = os.path.join(self.data_dir, "stored")
        # one checkpoint a fixpoint round, plus a fixed few per operator
        self.tracer.count(DataFrame, "localCheckpoint", "operators.local_checkpoints")
        self.store_results()

    def store_results(self) -> None:
        """The results the delta operations maintain: labels, the spanning
        forest over them and the distances. They are written from the
        references, the values the full operations are checked against;
        the base graph is a forest, so its spanning forest is every edge."""
        os.makedirs(self.stored, exist_ok=True)
        comps, dist = self.ref["components"], self.ref["sssp"]
        for name, columns in (
            ("comps", {"node": list(comps), "component": list(comps.values())}),
            ("forest", {"id_a": [a for a, _ in self.edges], "id_b": [b for _, b in self.edges]}),
            ("dist", {"node": list(dist), "dist": list(dist.values())}),
        ):
            os.makedirs(os.path.join(self.stored, name))
            pq.write_table(pa.table({k: pa.array(v, pa.int64()) for k, v in columns.items()}),
                           os.path.join(self.stored, name, "part-0.parquet"))

    def end_round(self, index: int) -> None:
        shutil.rmtree(os.path.join(self.data_dir, f"state{index}"), ignore_errors=True)

    def operations(self, index: int):
        from kf_task_fhir_etl_spark.operators import dedup, graph, graph_delta

        spark = self.spark
        state = os.path.join(self.data_dir, f"state{index}")
        path = lambda name: os.path.join(state, name)  # noqa: E731
        span = self.tracer.span

        def pagerank():
            with span("graph.pagerank"):
                pdf = graph.pagerank(self.directed, iters=PAGERANK_ITERS).toPandas()
            return dict(zip(pdf["node"], pdf["pr"]))

        def components():
            with span("dedup.components"):
                # max_iter must cover the deepest component: past it the
                # labels come back unconverged, without an error
                comps = dedup.connected_components(self.nodes, self.pairs, node_col="node", max_iter=CHAIN)
                comps.write.parquet(path("comps"))
            return path("comps"), "component"

        def sssp():
            with span("graph.sssp"):
                graph.sssp_distances(self.weighted, self.sources).write.parquet(path("dist"))
            return path("dist"), "dist"

        def components_delta():
            comps = spark.read.parquet(os.path.join(self.stored, "comps"))
            forest = spark.read.parquet(os.path.join(self.stored, "forest"))
            with span("graph_delta.components"):
                labels, new_forest = graph_delta.apply_components_delta_forest(
                    comps, forest, self.pairs_new, self.delta_pairs,
                    node_col="node", comp_col="component", max_iter=N_INSERTS + 1,
                )
                labels.write.parquet(path("comps_new"))
                new_forest.write.parquet(path("forest_new"))
            return path("comps_new"), "component"

        def sssp_delta():
            dist = spark.read.parquet(os.path.join(self.stored, "dist"))
            with span("graph_delta.sssp"):
                graph_delta.apply_sssp_inserts(dist, self.weighted_new, self.delta_w).write.parquet(path("dist_new"))
            return path("dist_new"), "dist"

        return [
            ("pagerank", FULL, pagerank),
            ("components", FULL, components),
            ("sssp", FULL, sssp),
            ("components_delta", DELTA, components_delta),
            ("sssp_delta", DELTA, sssp_delta),
        ]

    def work(self, op: Op) -> dict:
        return {"local_checkpoints": op.extra["counts"].get("operators.local_checkpoints", 0)}

    def check(self, op: Op, payload) -> str | None:
        ref = self.ref[op.kind]
        if op.kind == "pagerank":
            got = payload
        else:
            table = pq.read_table(payload[0]).to_pydict()
            got = dict(zip(table["node"], table[payload[1]]))
        if set(got) != set(ref):
            return f"node set differs: {len(got)} vs reference {len(ref)}"
        if op.kind == "pagerank":
            worst = max(abs(got[v] - round(ref[v], 6)) for v in ref)
            return f"rank differs by {worst:.2e} at 6 dp" if worst > 1.01e-6 else None
        bad = [v for v in ref if int(got[v]) != ref[v]]
        return f"{len(bad)} nodes differ, e.g. node {bad[0]}" if bad else None

    def layer_values(self, ops: list[Op], ledger) -> dict[str, float]:
        out = dict.fromkeys((f"{name}{suffix}" for name in LAYERS for suffix in ("_s", ".jobs")), 0.0)
        for op in ops:
            for s in self.tracer.descendants(op.span):
                if s.name in LAYERS:
                    out[f"{s.name}_s"] += s.end - s.start
                    out[f"{s.name}.jobs"] += len(ledger.within(op.jobs, s.start, s.end))
        out["operators.local_checkpoints"] = sum(self.work(op)["local_checkpoints"] for op in ops)
        return out
