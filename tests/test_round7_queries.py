"""Round-7 additions: ANN recall-bound contracts, the URL curation
gate, the BPE merge-table census, and the DOULION approximate triangle
count — oracle differentials plus the semantic pins the oracle can't
express (the boolean contracts' FAILURE direction, gate-by-gate
behavior on crafted rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.plans import REGISTRY
from tests.oracle_utils import compare_query


@pytest.mark.parametrize(
    "name",
    [
        "curation_url_gate",
        "bpe_merge_table_census",
        "graph_triangles_approx",
        "dedup_cluster_retention",
        "sketch_cms_heavy_hitters",
        "events_attribution",
        "curation_url_normalize_dedup",
    ],
)
def test_oracle_differential(spark, sf_dir, name):
    compare_query(spark, sf_dir, name)


def test_cluster_retention_policy(spark, sf_dir):
    """Exactly one keep per cluster; the kept member maximizes
    (n_chars, -doc_id); singletons keep themselves."""
    rows = REGISTRY["dedup_cluster_retention"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    clusters = defaultdict(list)
    for r in rows:
        clusters[r["representative"]].append(r)
    assert sum(len(m) > 1 for m in clusters.values()) > 0, "no real clusters"
    for members in clusters.values():
        keeps = [m for m in members if m["action"] == "keep"]
        assert len(keeps) == 1
        best = min(members, key=lambda m: (-docs[m["doc_id"]], m["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"] == keeps[0]["kept_id"]
        assert all(m["kept_id"] == best["doc_id"] for m in members)


def test_recall_bound_fails_when_bound_unreachable(spark, sf_dir):
    """The contract must be falsifiable: the same harness with an
    impossible bound (recall > 1) reports recall_ok=False — proving a
    real recall collapse would flip the driver row, not silently pass."""
    from hadoop_map_reduce_spark.operators.similarity import (
        ann_topk_lsh,
        cosine_topk,
    )
    from hadoop_map_reduce_spark.plans.companion_queries import (
        _ann_query_set,
        _recall_bound,
    )

    emb, queries = _ann_query_set(spark, sf_dir)
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_topk_lsh(emb, queries, k=5, dim=64, n_planes=4,
                          probe_flips=1)
    row = _recall_bound(
        approx, exact, queries, k=5, bound_ppm=1_000_001
    ).collect()[0]
    assert row["recall_ok"] is False
    assert row["n_queries"] == 10 and row["k"] == 5


def test_url_gate_gates_fire_in_order(spark, sf_dir):
    """Crafted rows exercise each gate: blocked domain absent, short
    page (< 3 sentences) absent, cap trims to 5 per domain."""
    out = REGISTRY["curation_url_gate"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "gate emptied the corpus"
    domains = {r["registered_domain"] for r in rows}
    from hadoop_map_reduce_spark.plans.curation_queries import (
        _URL_BLOCKLIST,
    )

    assert not domains & set(_URL_BLOCKLIST)
    assert all(r["n_sentences"] >= 3 for r in rows)
    assert all(1 <= r["domain_rank"] <= 5 for r in rows)
    # the cap is a real gate: at least one domain is at the cap
    per_dom = {}
    for r in rows:
        per_dom[r["registered_domain"]] = max(
            per_dom.get(r["registered_domain"], 0), r["domain_rank"]
        )
    assert max(per_dom.values()) == 5
    # host carries the www subdomain for even doc_ids; the registered
    # domain never does
    for r in rows:
        if r["doc_id"] % 2 == 0:
            assert r["host"].startswith("www.")
        assert not r["registered_domain"].startswith("www.")
        assert r["host"].endswith(r["registered_domain"])


def test_bpe_census_matches_pure_python_replay(spark, sf_dir):
    """Independent pure-Python replay of the 2-char-vocabulary merge
    loop (no Spark, no DuckDB) — pins the trainer itself, so the oracle
    SQL and the trainer can't share a correlated bug."""
    from hadoop_map_reduce_spark.functions.text import sanitize, tokenize
    from hadoop_map_reduce_spark.operators.bpe import (
        END_OF_WORD,
        _train_merges_py,
    )
    from hadoop_map_reduce_spark.plans.companion_queries import (
        _BPE_CENSUS_MERGES,
    )
    from hadoop_map_reduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = [
        r["tok"]
        for r in docs.select(
            F.explode(tokenize(sanitize(F.col("text")))).alias("tok")
        ).collect()
    ]
    counts: dict[str, int] = {}
    for t in toks:
        if len(t) >= 2:
            w = t[:2]
            counts[w] = counts.get(w, 0) + 1
    table = [([w[0], w[1], END_OF_WORD], c) for w, c in counts.items()]
    want = _train_merges_py(table, _BPE_CENSUS_MERGES, 1)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in REGISTRY["bpe_merge_table_census"].fn(spark, sf_dir)
            .collect()
    ]
    assert got == [(int(a), b, c, int(d)) for a, b, c, d in want]


def test_triangles_approx_est_is_consistent(spark, sf_dir):
    """n_est must be 8x an integer (the sampled count), est_ok must
    hold, and the exact side must equal graph_triangles' global sum/3
    (each triangle contributes 3 per-node participations)."""
    row = REGISTRY["graph_triangles_approx"].fn(spark, sf_dir).collect()[0]
    assert row["n_est"] % 8 == 0
    assert row["est_ok"] is True
    per_node = REGISTRY["graph_triangles"].fn(spark, sf_dir)
    total3 = per_node.agg(F.sum("n_triangles")).collect()[0][0]
    assert total3 == 3 * row["n_exact"]
