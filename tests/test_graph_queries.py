"""Graph query batch (`plans/graph_queries.py`): oracle differentials plus
the structural invariants the oracle can't see."""

from __future__ import annotations

import pytest

from hadoop_map_reduce_spark.plans import REGISTRY
from tests.oracle_utils import compare_query

GRAPH = sorted(name for name, q in REGISTRY.items() if "graph" in q.tags)


@pytest.mark.parametrize("name", GRAPH)
def test_oracle_match(spark, sf_dir, name):
    compare_query(spark, sf_dir, name)


def test_pagerank_mass_and_margin(spark, oracle_sf_dir):
    """Rank mass is conserved (no dangling nodes on the undirected graph,
    so sum(rank) == 1 up to float noise), and every rank sits far from a
    round-6 boundary relative to cross-engine summation noise — the
    condition that makes the hash-compare oracle sound for doubles."""
    rows = REGISTRY["graph_pagerank"].fn(spark, oracle_sf_dir).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-3  # round-6 truncation per node
    margin = min(abs(r.rank * 1e6 - round(r.rank * 1e6) - 0.5) for r in rows)
    # summation noise is ~1e-17 absolute => ~1e-11 in boundary units;
    # require 6 orders of headroom
    assert margin > 1e-5


def test_degree_hist_totals(spark, oracle_sf_dir):
    hist = REGISTRY["graph_degree_hist"].fn(spark, oracle_sf_dir).collect()
    n_nodes = sum(r.n_nodes for r in hist)
    n_ranks = REGISTRY["graph_pagerank"].fn(spark, oracle_sf_dir).count()
    assert n_nodes == n_ranks > 0


def test_kcore_matches_pure_python_peel(spark, sf_dir):
    """Both k-core queries against a pure-Python peel of the same edge
    list: every round unrolled (no early exit), so the engine's
    fixpoint shortcut and its checkpoint-observed counts are checked
    against plain set arithmetic."""
    from hadoop_map_reduce_spark.plans.graph_queries import (
        _KCORE_MAX_ROUNDS,
        _KCORE_ROUNDS,
        _copurchase_edges,
    )

    e = {(r.u, r.v) for r in _copurchase_edges(spark, sf_dir).collect()}
    nodes = {x for uv in e for x in uv}
    k = 2 * len(e) // len(nodes)
    kept = [nodes]
    edges = [e]
    for _ in range(max(_KCORE_ROUNDS, _KCORE_MAX_ROUNDS)):
        deg: dict[int, int] = {}
        for u, v in edges[-1]:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, d in deg.items() if d >= k}
        kept.append(keep)
        edges.append({(u, v) for u, v in edges[-1] if u in keep and v in keep})

    r = _KCORE_ROUNDS
    bounded = REGISTRY["graph_kcore_bounded"].fn(spark, sf_dir).collect()
    assert [tuple(row) for row in bounded] == [
        (k, len(kept[r]), len(edges[r]), len(kept[r - 1]) - len(kept[r]))
    ]

    fix = next(
        i for i in range(1, len(kept)) if len(kept[i]) == len(kept[i - 1])
    )
    converged = REGISTRY["graph_kcore_converged"].fn(spark, sf_dir).collect()
    assert sorted(tuple(row) for row in converged) == [
        (k, i, len(kept[i]), len(edges[i])) for i in range(1, fix + 1)
    ]


# Crafted lineitem tables, (l_orderkey, l_partkey) rows. "edgeless": no
# order holds two distinct parts, so the co-purchase graph has no edge
# and no node. "clique4": one order over parts 1-4, a 4-clique with
# k = 2*6 // 4 = 3 in which round 1 keeps every node, so the fixpoint is
# found against round 0's |V|.
_KCORE_FIXTURES = {
    "edgeless": [(1, 1), (2, 2), (3, 3), (4, 4), (5, 7), (5, 7)],
    "clique4": [(1, 1), (1, 2), (1, 3), (1, 4)],
}


@pytest.mark.parametrize("fixture", sorted(_KCORE_FIXTURES))
@pytest.mark.parametrize(
    "name", ["graph_kcore_bounded", "graph_kcore_converged"]
)
def test_kcore_crafted_graph_matches_oracle(spark, tmp_path, name, fixture):
    import pyarrow as pa
    import pyarrow.parquet as pq

    orderkeys, partkeys = zip(*_KCORE_FIXTURES[fixture])
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(orderkeys, pa.int64()),
                "l_partkey": pa.array(partkeys, pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    compare_query(spark, str(tmp_path), name)
