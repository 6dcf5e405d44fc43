"""Output checks that do not go through Spark.

Expected graph: set-up runs the plain-Python reference pipeline
(`reference_impl.reference_pipeline`) over the same pages; that is the
merge-level graph (node P/R and triple P/R = 1.0 against it). The written
graph is canonical — aliases merged by entity linking — so the expected
canonical keys are the reference's keys rewritten through the linking map
the engine produced. That checks the canonical rewrite and the write path
exactly, and linking for being a function onto existing names of the same
type. The written graph is read back with pyarrow; query answers come from
plain-Python graph code over the expected keys.
"""

from __future__ import annotations

import hashlib
import random
from bisect import bisect_left
from collections import Counter, defaultdict
from itertools import accumulate
from pathlib import Path

import pyarrow.dataset as ds

EDGE_KEY = ["subj", "subj_type", "pred", "obj", "obj_type"]


def read_keys(out_dir: Path, drop_one_edge: bool = False):
    """(node (type, id) list, edge key list) of a written graph."""
    def cols(path, names):
        t = ds.dataset(str(path), format="parquet",
                       partitioning="hive").to_table(columns=names)
        return list(zip(*(t.column(c).to_pylist() for c in names)))
    nodes = cols(out_dir / "nodes", ["type", "id"])
    edges = cols(out_dir / "edges", EDGE_KEY)
    if drop_one_edge and edges:
        # planted corruption for the self-test: the check must fail
        edges = sorted(edges)[1:]
    return nodes, edges


def rows_digest(path: Path) -> str:
    """Order-independent digest of every row of a parquet dataset."""
    t = ds.dataset(str(path), format="parquet", partitioning="hive").to_table()
    names = sorted(t.column_names)
    rows = zip(*(t.column(c).to_pylist() for c in names))
    h = hashlib.sha256()
    for d in sorted(hashlib.sha1(repr(r).encode()).digest() for r in rows):
        h.update(d)
    return h.hexdigest()


def reference_keys(ref: dict):
    nodes = {(n["type"], n["id"]) for n in ref["nodes"]}
    edges = {tuple(e[k] for k in EDGE_KEY) for e in ref["edges"]}
    return nodes, edges


def mapping_problems(mapping: dict, ref_nodes: set) -> list:
    """The linking map must send existing names to existing names of the
    same type, and be idempotent (a canonical id is never an alias)."""
    bad = []
    for (typ, alias), canon in mapping.items():
        if (typ, alias) not in ref_nodes or (typ, canon) not in ref_nodes:
            bad.append(("unknown name", typ, alias, canon))
        elif (typ, canon) in mapping:
            bad.append(("not idempotent", typ, alias, canon))
    return bad


def canonical_keys(ref_nodes: set, ref_edges: set, mapping: dict):
    def m(typ, nid):
        return mapping.get((typ, nid), nid)
    nodes = {(t, m(t, i)) for t, i in ref_nodes}
    edges = {(m(st, s), st, p, m(ot, o), ot) for s, st, p, o, ot in ref_edges}
    return nodes, edges


class QueryOracle:
    """Answers for plans.queries calls, computed from graph keys with dicts
    and sorts — an independent path from the Spark plans it checks."""

    def __init__(self, nodes, edges):
        self.out = defaultdict(list)
        self.inc = defaultdict(list)
        self.adj = defaultdict(set)
        self.deg = Counter()
        for subj, _st, pred, obj, _ot in edges:
            self.out[subj].append((subj, pred, obj))
            self.inc[obj].append((obj, pred, subj))
            if pred != "HAS":
                self.adj[subj].add(obj)
                self.adj[obj].add(subj)
                self.deg[subj] += 1
                self.deg[obj] += 1
        self.nodes = sorted((i, t) for t, i in nodes)
        self.entity_ids = sorted({i for t, i in nodes if t != "Chunk"})

    def neighborhood(self, entity_id: str, limit: int = 50):
        rows = self.out.get(entity_id, []) + self.inc.get(entity_id, [])
        return sorted(rows, key=lambda r: (r[1], r[2]))[:limit]

    def find_by_name_contains(self, needle: str, limit: int = 25):
        n = needle.lower()
        return [r for r in self.nodes if n in r[0].lower()][:limit]

    def multi_hop(self, start: str, depth: int = 2):
        seen = {start: 0}
        frontier = [start]
        for h in range(1, depth + 1):
            nxt = sorted({d for s in frontier for d in self.adj.get(s, ())
                          if d not in seen})
            if not nxt:
                break
            for d in nxt:
                seen[d] = h
            frontier = nxt
        return sorted(seen.items(), key=lambda r: (r[1], r[0]))

    def degree_topk(self, k: int = 25):
        return sorted(self.deg.items(), key=lambda r: (-r[1], r[0]))[:k]

    def answer(self, q):
        kind, arg = q
        if kind == "degree_topk":
            return self.degree_topk()
        return getattr(self, kind)(arg)


# one cycle of the closed-loop mix: point lookups, then one multi-hop
# traversal and one whole-graph aggregate
MIX = ["neighborhood", "find_by_name_contains"] * 6 + [
    "multi_hop", "degree_topk"]


def query_sequence(oracle: QueryOracle, n: int, seed: int, zipf_s=1.1):
    """`n` (kind, argument) pairs; entity ids drawn from a Zipf law over the
    graph's own ids (rank order fixed by a seeded shuffle)."""
    rng = random.Random(f"{seed}:queries")
    ids = list(oracle.entity_ids)
    rng.shuffle(ids)
    cum = list(accumulate(1.0 / (r + 1) ** zipf_s for r in range(len(ids))))
    seq = []
    for i in range(n):
        kind = MIX[i % len(MIX)]
        eid = ids[min(bisect_left(cum, rng.random() * cum[-1]), len(ids) - 1)]
        if kind == "find_by_name_contains":
            words = eid.split()
            arg = (words[-1] if words else eid)[:4]
        elif kind == "degree_topk":
            arg = None
        else:
            arg = eid
        seq.append((kind, arg))
    return seq


def run_query(nodes_df, edges_df, q):
    """Runs one query through plans.queries; returns comparable rows."""
    from llm_knowledge_graph_spark.plans import queries as Q
    kind, arg = q
    if kind == "neighborhood":
        return sorted((tuple(r) for r in Q.neighborhood(edges_df, arg)
                       .collect()), key=lambda r: (r[1], r[2]))
    if kind == "find_by_name_contains":
        return [tuple(r) for r in Q.find_by_name_contains(nodes_df, arg)
                .collect()]
    if kind == "multi_hop":
        return [tuple(r) for r in Q.multi_hop(edges_df, arg, depth=2)
                .collect()]
    return [tuple(r) for r in Q.degree_topk(edges_df).collect()]
