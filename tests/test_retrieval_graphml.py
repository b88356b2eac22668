"""Seventh-continuation operators: exact-integer community modularity
(graph/lpa.py community_modularity), skip-gram walk pairs
(graph/walks.py skipgram_pairs), and integer-quantized BM25 retrieval
(textops/bm25.py)."""

from __future__ import annotations

from codebased_spark.graph.lpa import community_modularity
from codebased_spark.graph.walks import skipgram_pairs
from codebased_spark.textops.bm25 import bm25_topk


def test_modularity_two_triangles_exact_half(spark):
    # two disjoint triangles: Q = 0.5 exactly; LPA resolves each to its
    # min node id, every community term is the same exact integer
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(tri1 + tri2, ["src", "dst"])
    rows = {r.community: r for r in community_modularity(edges, rounds=3).collect()}
    assert set(rows) == {0, 10}
    for c in (0, 10):
        r = rows[c]
        assert (r.n_nodes, r.internal_edges, r.degree_sum, r.m_edges) == (3, 3, 6, 6)
        # q_num = 2*m*(2*e_c) - d_c^2 = 2*6*6 - 36 = 36 over 4*m^2 = 144
        assert r.q_num == 36
    q = sum(r.q_num for r in rows.values()) / (4 * 6 * 6)
    assert q == 0.5


def test_modularity_counts_cross_community_degree(spark):
    # a bridge edge contributes degree mass but no internal edges: a
    # 4-path 0-1-2-3 under 1-round LPA labels {0:0,1:0,2:1,3:2}
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    rows = {r.community: r for r in community_modularity(edges, rounds=1).collect()}
    assert sum(r.n_nodes for r in rows.values()) == 4
    assert all(r.m_edges == 3 for r in rows.values())
    # total internal edges can never exceed m, and every degree is counted
    assert sum(r.internal_edges for r in rows.values()) <= 3
    assert sum(r.degree_sum for r in rows.values()) == 6  # 2 * m


def test_skipgram_pairs_chain_counts(spark):
    # chain 0->1->2->3->4: walks are forced (deg 1 everywhere), so pair
    # frequencies are pure window combinatorics
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    freq = {
        (r.center, r.context): r.freq
        for r in skipgram_pairs(edges, length=4, window=2).collect()
    }
    # (3,4) adjacent in walks from origins 0,1,2,3
    assert freq[(3, 4)] == 4
    assert freq[(4, 3)] == 4  # symmetric by construction
    # (0,2) distance 2 appears only in the walk from origin 0
    assert freq[(0, 2)] == 1
    # distance 3 exceeds the window
    assert (0, 3) not in freq


def test_bm25_exact_integer_scores_and_length_penalty(spark):
    docs = spark.createDataFrame(
        [(0, "x"), (1, "x x"), (2, "y y")], ["doc_id", "text"]
    )
    out = bm25_topk(docs, {"q": ["x"]}, k=10)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    # N=3, df=2 -> idf_bits = len(bin(1)) = 1; L=5
    # d1 (tf=2, dl=2): 440000 // (200 + 30 + 108) = 1301
    # d0 (tf=1, dl=1): 220000 // (100 + 30 + 54)  = 1195
    assert [(r.doc_id, r.score_milli, r.rank) for r in rows] == [
        (1, 1301, 1),
        (0, 1195, 2),
    ]


def test_bm25_tie_break_min_doc_id_and_multi_query(spark):
    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x y"), (2, "z")], ["doc_id", "text"]
    )
    out = bm25_topk(docs, {"qx": ["x"], "qz": ["z"]}, k=1).collect()
    by_q = {r.query_id: r for r in out}
    assert by_q["qx"].doc_id == 0 and by_q["qx"].rank == 1  # tie -> min id
    assert by_q["qz"].doc_id == 2


def test_apportion_budget_largest_remainder_exact(spark):
    from codebased_spark.sources.frontier import apportion_budget

    mass = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], ["host", "mass"]
    )
    out = {r.host: r for r in apportion_budget(mass, budget=7).collect()}
    # base = 7*m // 10 -> a:3 b:2 c:1 (sum 6); remainders 5,1,4 -> the one
    # leftover slot goes to a
    assert (out["a"].base_quota, out["a"].quota) == (3, 4)
    assert (out["b"].base_quota, out["b"].quota) == (2, 2)
    assert (out["c"].base_quota, out["c"].quota) == (1, 1)
    assert sum(r.quota for r in out.values()) == 7


def test_apportion_budget_tie_breaks_by_host(spark):
    from codebased_spark.sources.frontier import apportion_budget

    mass = spark.createDataFrame([("b", 1), ("a", 1)], ["host", "mass"])
    out = {r.host: r.quota for r in apportion_budget(mass, budget=1).collect()}
    assert out == {"a": 1, "b": 0}  # equal remainders -> host asc wins


def test_condensation_depth_layers_cycle_and_chain(spark):
    from codebased_spark.graph.scc import condensation_depth

    # 2-cycle {0,1} feeding the chain 1->2->3: condensed DAG is
    # SCC{0,1} -> {2} -> {3}
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3)], ["src", "dst"]
    )
    out = {r.scc_id: r for r in condensation_depth(edges).collect()}
    assert out[0].n_members == 2 and out[0].depth == 0
    assert out[2].n_members == 1 and out[2].depth == 1
    assert out[3].n_members == 1 and out[3].depth == 2
    # the distributed relaxation path must agree with the driver path
    dist = sorted(
        map(tuple, condensation_depth(edges, driver_threshold=0).collect())
    )
    assert dist == sorted(
        (r.scc_id, r.n_members, r.depth) for r in out.values()
    )


def test_hard_negatives_exclude_full_coverage_docs(spark):
    from codebased_spark.textops.bm25 import hard_negatives

    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x x x"), (2, "y")], ["doc_id", "text"]
    )
    rows = hard_negatives(docs, {"q": ["x", "y"]}, k=10).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert 0 not in by_doc  # covers both terms -> pseudo-positive
    assert set(by_doc) == {1, 2}
    assert by_doc[1].n_terms == 1 and by_doc[2].n_terms == 1
    assert by_doc[1].rank == 1  # tf=3 outscores tf=1


def test_skew_report_exact_gini(spark):
    from codebased_spark.link.skew import skew_report

    # counts a:1 b:1 c:4 sorted -> x=(1,1,4), T=6, n=3
    # sum(i*x) = 1+2+12 = 15; gini_num = 30 - 4*6 = 6; den = 18 -> 1/3
    rows = [("a", 0), ("b", 0), ("c", 0), ("c", 1), ("c", 2), ("c", 3)]
    df = spark.createDataFrame(rows, ["host", "x"])
    r = skew_report(df, key="host", key_alias="host").collect()[0]
    assert (r.n_keys, r.total_rows, r.max_rows) == (3, 6, 4)
    assert (r.gini_num, r.gini_den) == (6, 18)


def test_skew_report_uniform_is_zero(spark):
    from codebased_spark.link.skew import skew_report

    df = spark.createDataFrame([("a", 0), ("b", 0)], ["host", "x"])
    r = skew_report(df, key="host").collect()[0]
    assert r.gini_num == 0  # 2*(1+2) - 3*2 = 0


def test_skew_report_histogram_form_matches_per_key_ranks(spark):
    """The closed-form tie-block rank sum (window over distinct COUNT
    VALUES, VERDICT r4 nit #4) must equal the brute per-key ranking on a
    key space mixing heavy tie blocks with distinct counts."""
    import random

    from codebased_spark.link.skew import skew_report

    rng = random.Random(11)
    rows = []
    # 40 keys with power-law-ish counts, deliberately many tied at 1 and 2
    counts = [1] * 15 + [2] * 10 + [3, 3, 3, 5, 5, 8, 13, 13, 21, 34,
                                    55, 89, 144, 233, 377]
    for k, c in enumerate(counts):
        rows += [(f"h{k:02d}", i) for i in range(c)]
    rng.shuffle(rows)
    r = skew_report(
        spark.createDataFrame(rows, ["host", "x"]), key="host"
    ).collect()[0]
    xs = sorted(counts)
    n, T = len(xs), sum(xs)
    s_icnt = sum((i + 1) * x for i, x in enumerate(xs))
    assert (r.n_keys, r.total_rows, r.max_rows) == (n, T, max(xs))
    assert (r.gini_num, r.gini_den) == (2 * s_icnt - (n + 1) * T, n * T)


def test_skew_gini_exact_past_bigint(spark):
    """The Gini terms are products of counts: with 2^31 keys of 2^31 rows
    each plus one 2^32-row key (2^62 + 2^32 rows, inside BIGINT), the
    rank sum and both Gini terms exceed 2^63 and must come out exact."""
    from codebased_spark.link.skew import gini_from_histogram

    hist = [(2**31, 2**31), (2**32, 1)]  # (cnt, m): m keys of cnt rows
    r = gini_from_histogram(
        spark.createDataFrame(hist, "cnt long, m long")
    ).collect()[0]
    n = sum(m for _, m in hist)
    T = sum(c * m for c, m in hist)
    s_icnt, rank = 0, 1
    for c, m in sorted(hist):
        s_icnt += c * (m * rank + m * (m - 1) // 2)
        rank += m
    assert T < 2**63 < min(s_icnt, n * T)
    assert (r.n_keys, r.total_rows, r.max_rows) == (n, T, 2**32)
    assert (r.gini_num, r.gini_den) == (2 * s_icnt - (n + 1) * T, n * T)


def test_hub_ablation_shatters_star(spark):
    from codebased_spark.graph.ablation import hub_ablation

    # star 0-{1..5} plus a detached pair {10,11}: removing the single
    # hub strands all five leaves (they drop from the labeled set)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)], ["src", "dst"]
    )
    out = {r.scenario: r for r in hub_ablation(edges, k=1).collect()}
    f, a = out["full"], out["ablated"]
    assert (f.n_nodes, f.n_components, f.largest) == (8, 2, 6)
    assert (a.n_nodes, a.n_components, a.largest) == (2, 1, 2)
