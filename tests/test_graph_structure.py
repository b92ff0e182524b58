"""Triangle counts and k-core: hand-verifiable goldens + peel contracts."""

import pyspark.sql.functions as F
import pytest

from tilekiln_spark.operators.graph import k_core, triangle_counts


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangles_k4(spark):
    # K4: every node has degree 3, sits in C(3,2)=3 triangles, local_cc=1
    pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = {r["node"]: r for r in triangle_counts(_edges(spark, pairs)).collect()}
    assert set(out) == {0, 1, 2, 3}
    for n, r in out.items():
        assert r["degree"] == 3 and r["n_tri"] == 3 and r["local_cc"] == 1.0


def test_triangles_canonicalization(spark):
    # duplicates, reverses, and self-loops must not inflate counts
    pairs = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (1, 2)]
    out = {r["node"]: r for r in triangle_counts(_edges(spark, pairs)).collect()}
    assert all(r["n_tri"] == 1 and r["degree"] == 2 for r in out.values())


def test_triangles_path_has_none(spark):
    out = triangle_counts(_edges(spark, [(0, 1), (1, 2), (2, 3)])).collect()
    assert all(r["n_tri"] == 0 for r in out)
    # degree-1 endpoints have NULL local_cc (undefined), middles 0.0
    cc = {r["node"]: r["local_cc"] for r in out}
    assert cc[0] is None and cc[3] is None
    assert cc[1] == 0.0 and cc[2] == 0.0


def test_k_core_peels_periphery(spark):
    # 5-clique (degree 4) + a pendant chain hanging off node 0
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 5), (5, 6), (6, 7)]
    out = {r["node"]: r["core_degree"]
           for r in k_core(_edges(spark, clique + chain), k=3).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(v == 4 for v in out.values())


def test_k_core_cascading_peel(spark):
    # a chain peels completely at k=2 only via cascading rounds
    chain = [(i, i + 1) for i in range(6)]
    assert k_core(_edges(spark, chain), k=2).count() == 0
    # a cycle is its own 2-core
    cycle = chain + [(6, 0)]
    out = k_core(_edges(spark, cycle), k=2).collect()
    assert len(out) == 7 and all(r["core_degree"] == 2 for r in out)


def test_k_core_raises_on_iteration_cap(spark):
    chain = [(i, i + 1) for i in range(8)]
    with pytest.raises(ValueError, match="no fixpoint"):
        k_core(_edges(spark, chain), k=2, max_iter=2)


def test_k_core_driver_fixture_converges_fast(spark):
    # pins the oracle's 6-round unroll: the driver's core+periphery graph
    # must fixpoint within 5 rounds (the twin runs 6)
    d = spark.range(500).select(F.col("id").alias("doc_id"))
    core = (
        d.filter(F.col("doc_id") < 40)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select("src", ((F.col("src") + F.col("j")) % 40).alias("dst"))
    )
    chain = d.filter(F.col("doc_id") >= 40).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    attach = d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") % 3 == 0)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") % 40).alias("dst")
    )
    out = k_core(core.union(chain).union(attach), k=4, max_iter=5)
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["core_degree"] == 6 for r in rows)


def test_assortativity_star_is_minus_one(spark):
    # a star: the hub (degree n-1) always pairs with leaves (degree 1) —
    # textbook r = -1
    from tilekiln_spark.operators.graph import degree_assortativity

    star = [(0, i) for i in range(1, 6)]
    row = degree_assortativity(_edges(spark, star)).collect()[0]
    assert row["m_edges"] == 5
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # a cycle is 2-regular: zero degree variance -> denominator 0 -> NULL
    from tilekiln_spark.operators.graph import degree_assortativity

    cyc = [(i, (i + 1) % 5) for i in range(5)]
    row = degree_assortativity(_edges(spark, cyc)).collect()[0]
    assert row["m_edges"] == 5
    assert row["assortativity"] is None


def test_assortativity_exact_sums(spark):
    # path 0-1-2: degrees 1,2,1; edges pair (1,2) twice
    from tilekiln_spark.operators.graph import degree_assortativity

    row = degree_assortativity(_edges(spark, [(0, 1), (1, 2)])).collect()[0]
    assert row["sum_jk"] == 4            # 1*2 + 2*1
    assert row["sum_j_plus_k"] == 6      # 3 + 3
    assert row["sum_j2_plus_k2"] == 10   # (1+4) + (4+1)
    # r = (2 - 2.25) / (2.5 - 2.25) = -1
    assert row["assortativity"] == -1.0


def test_reciprocity_mixed(spark):
    from tilekiln_spark.operators.graph import reciprocity

    # 0<->1 mutual, 0->2 one-way, 3->0 one-way in
    e = _edges(spark, [(0, 1), (1, 0), (0, 2), (3, 0)])
    out = {r["node"]: r for r in reciprocity(e).collect()}
    assert out[0]["out_deg"] == 2 and out[0]["mutual"] == 1
    assert out[0]["reciprocity"] == 0.5
    assert out[1]["out_deg"] == 1 and out[1]["mutual"] == 1
    assert out[1]["reciprocity"] == 1.0
    assert out[2]["out_deg"] == 0 and out[2]["in_deg"] == 1
    assert out[2]["mutual"] == 0 and out[2]["reciprocity"] is None
    assert out[3]["out_deg"] == 1 and out[3]["mutual"] == 0
    assert out[3]["reciprocity"] == 0.0


def test_reciprocity_dedupes_and_drops_self_loops(spark):
    from tilekiln_spark.operators.graph import reciprocity

    e = _edges(spark, [(0, 1), (0, 1), (1, 0), (0, 0)])
    out = {r["node"]: r for r in reciprocity(e).collect()}
    assert out[0]["out_deg"] == 1 and out[0]["mutual"] == 1


def test_label_propagation_two_communities(spark):
    from tilekiln_spark.operators.graph import label_propagation

    # two K4 cliques joined by one bridge edge: round 1 floods the min
    # label across the bridge (the classic min-tie-break leak), but the
    # clique mode wins it back by round 2 and the split is stable — the
    # smallest fixture where mode genuinely beats min-propagation
    k4_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4_b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(0, 10)]
    out = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, k4_a + k4_b + bridge),
                                      rounds=4).collect()}
    assert {out[n] for n in range(4)} == {0}
    assert {out[n] for n in range(10, 14)} == {10}


def test_label_propagation_tiebreak_smallest_label(spark):
    from tilekiln_spark.operators.graph import label_propagation

    # single edge: each node adopts the other's label; after round 1
    # labels are swapped, round 2 swaps back — with 1 round, node 1
    # takes label 0 and node 0 takes label 1 (mode of one neighbor)
    out = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, [(0, 1)]), rounds=1).collect()}
    assert out == {0: 1, 1: 0}


def test_label_propagation_rounds_validation(spark):
    from tilekiln_spark.operators.graph import label_propagation

    with pytest.raises(ValueError):
        label_propagation(_edges(spark, [(0, 1)]), rounds=0)


def test_label_propagation_local_equals_distributed(spark, monkeypatch, local_solve_log):
    # r6 size-adaptive path: the driver-local numpy rounds must be
    # round-by-round identical to the distributed join/groupBy loop
    # (mode of neighbor labels, smallest-label tie-break — all integers)
    from tilekiln_spark.operators import local_solve
    from tilekiln_spark.operators.graph import label_propagation

    n = 500
    e = _edges(
        spark,
        [(s, (s * 7 + j) % n) for s in range(n) for j in (1, 2, 3)
         if s != (s * 7 + j) % n],
    )
    for rounds in (1, 2, 4):
        local = {r["node"]: r["label"]
                 for r in label_propagation(e, rounds=rounds).collect()}
        with monkeypatch.context() as m:
            m.setattr(local_solve, "MAX_LOCAL_ROWS", -1)
            dist = {r["node"]: r["label"]
                    for r in label_propagation(e, rounds=rounds).collect()}
        assert local == dist
    assert [d["path"] for d in local_solve_log()] == ["local", "distributed"] * 3


def test_modularity_two_cliques(spark):
    from tilekiln_spark.operators.graph import community_modularity

    # two K4s + bridge, perfect labels: m=13, each community
    # internal=6, degree_sum: K4 degrees 3*4 +1 bridge end = 13
    k4_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4_b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4_a + k4_b + [(0, 10)])
    labels = spark.createDataFrame(
        [(n, 0) for n in range(4)] + [(n, 1) for n in range(10, 14)],
        "node long, label long",
    )
    out = {r["label"]: r for r in community_modularity(e, labels).collect()}
    for lab in (0, 1):
        assert out[lab]["internal_edges"] == 6
        assert out[lab]["degree_sum"] == 13
        # q = 6/13 - (13/26)^2 = 6/13 - 1/4
        assert abs(out[lab]["q_contrib"] - (6.0 / 13.0 - 0.25)) < 1e-12


def test_modularity_empty_edges_raises(spark):
    from tilekiln_spark.operators.graph import community_modularity

    import pytest as _pytest
    e = _edges(spark, [(0, 0)])  # only a self-loop -> empty canonical set
    labels = spark.createDataFrame([(0, 0)], "node long, label long")
    with _pytest.raises(ValueError):
        community_modularity(e, labels)


def test_personalized_pagerank_localizes(spark):
    from tilekiln_spark.operators.graph import pagerank, personalized_pagerank

    # star out of seed 0 into 1..4, plus a far chain 10->11->12 that the
    # seed never reaches: PPR mass on the chain is exactly 0
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 10, 11, 12]],
                                  "node long")
    e = _edges(spark, [(0, i) for i in (1, 2, 3, 4)] + [(10, 11), (11, 12)])
    out = {r["node"]: r["rank"]
           for r in personalized_pagerank(
               nodes, e, nodes.filter(F.col("node") == 0),
               iterations=6).collect()}
    assert out[10] == 0.0 and out[11] == 0.0 and out[12] == 0.0
    assert out[0] > 0.0 and all(out[i] > 0.0 for i in (1, 2, 3, 4))
    # mass conserved
    assert abs(sum(out.values()) - 1.0) < 1e-9
    # symmetric leaves tie exactly
    assert out[1] == out[2] == out[3] == out[4]


def test_personalized_pagerank_validations(spark):
    from tilekiln_spark.operators.graph import personalized_pagerank

    nodes = spark.createDataFrame([(0,), (1,)], "node long")
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(nodes, e, nodes.filter(F.col("node") > 99))
    with pytest.raises(ValueError, match="iterations"):
        personalized_pagerank(nodes, e, nodes, iterations=0)
