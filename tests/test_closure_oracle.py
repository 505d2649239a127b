"""The recursive connected-components oracle every cluster-chain query
shares (driver_contract._sql_closure), checked on its own in DuckDB:
each node's root must equal a Python union-find's min label, and a
node in no edge must come back as its own cluster through the
callers' coalesce(comp.root, node)."""

import duckdb
import pytest

from edlib_spark.driver_contract import _sql_closure


def _union_find_roots(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


CASES = {
    # min label in the middle: it must travel 3 hops one way, 2 the other
    "chain_of_6": ([4, 9, 2, 7, 1, 8],
                   [(4, 9), (9, 2), (2, 7), (7, 1), (1, 8)]),
    "star": ([5, 1, 2, 3, 4], [(5, 1), (5, 2), (5, 3), (5, 4)]),
    "two_components": ([1, 2, 3, 10, 11, 12],
                       [(3, 2), (2, 1), (10, 12), (12, 11)]),
    "duplicate_and_reversed": ([1, 2, 3, 4],
                               [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4),
                                (4, 3)]),
    "node_in_no_edge": ([1, 2, 3, 7], [(1, 2), (2, 3)]),
    "no_edges": ([3, 1, 2], []),
    # string labels (the events pipeline's conv_ids): min is lexical
    "string_chain": (["u9", "u10", "u2", "u30"],
                     [("u9", "u10"), ("u10", "u2"), ("u2", "u30")]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_closure_matches_union_find(case):
    nodes, edges = CASES[case]
    typ = "VARCHAR" if isinstance(nodes[0], str) else "BIGINT"
    con = duckdb.connect()
    con.execute(f"CREATE TABLE node_in (node_id {typ})")
    con.execute(f"CREATE TABLE edge_in (id_a {typ}, id_b {typ})")
    con.executemany("INSERT INTO node_in VALUES (?)", [[n] for n in nodes])
    if edges:
        con.executemany("INSERT INTO edge_in VALUES (?, ?)",
                        [list(e) for e in edges])
    got = dict(con.execute(f"""
        WITH RECURSIVE {_sql_closure("SELECT id_a, id_b FROM edge_in")}
        SELECT n.node_id, coalesce(comp.root, n.node_id)
        FROM node_in n LEFT JOIN comp ON n.node_id = comp.node
    """).fetchall())
    assert got == _union_find_roots(nodes, edges)
