"""Graph-operator tests (J7-J10, A6) on hand-built edge tables."""

from textchunking_and_knowledgegraph_spark.operators.graph import (
    distinct_entity_count,
    label_propagation,
    lowest_common_ancestor,
    merge_vertices,
    multi_hop,
    neighbors,
)

_EDGES = [
    ("数学", "下位", "函数"),
    ("数学", "下位", "集合"),
    ("函数", "下位", "幂函数"),
    ("函数", "下位", "指数函数"),
    ("幂函数", "下位", "二次幂"),
    ("集合", "下位", "子集"),
]


def _edges_df(spark):
    return spark.createDataFrame(
        [{"subj": s, "pred": p, "obj": o} for s, p, o in _EDGES]
    )


def test_neighbors(spark):
    out = [r.neighbor for r in neighbors(_edges_df(spark), "函数", ["下位"]).collect()]
    assert out == ["幂函数", "指数函数"]
    rev = [r.neighbor for r in neighbors(_edges_df(spark), "函数", direction="in").collect()]
    assert rev == ["数学"]


def test_multi_hop(spark):
    got = {(r.node, r.hop) for r in multi_hop(_edges_df(spark), "数学", max_hops=2).collect()}
    assert got == {("函数", 1), ("集合", 1), ("幂函数", 2), ("指数函数", 2), ("子集", 2)}


def test_multi_hop_bounded(spark):
    got = {r.node for r in multi_hop(_edges_df(spark), "数学", max_hops=1).collect()}
    assert got == {"函数", "集合"}


def test_lca(spark):
    # parent edges are (parent 下位 child) -> ancestors walk obj->subj
    row = lowest_common_ancestor(_edges_df(spark), "二次幂", "指数函数", rel="下位").collect()
    assert len(row) == 1 and row[0].node == "函数"


def test_lca_root(spark):
    row = lowest_common_ancestor(_edges_df(spark), "子集", "幂函数", rel="下位").collect()
    assert row[0].node == "数学"


def test_merge_semantics(spark):
    existing = spark.createDataFrame([{"name": "函数", "type": "k"}])
    incoming = spark.createDataFrame(
        [{"name": "函数", "type": "k"}, {"name": "集合", "type": "k"}]
    )
    merged = merge_vertices(existing, incoming)
    assert merged.count() == 2


def test_label_propagation(spark):
    # two cliques lightly connected: labels converge within cliques
    edges = spark.createDataFrame(
        [{"subj": a, "pred": "r", "obj": b}
         for a, b in [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
                      ("b1", "b2"), ("b2", "b3"), ("b1", "b3")]]
    )
    labels = spark.createDataFrame(
        [{"node": n, "label": n} for n in ["a1", "a2", "a3", "b1", "b2", "b3"]]
    )
    out = {r.node: r.label for r in label_propagation(edges, labels, rounds=3).collect()}
    assert len({out["a1"], out["a2"], out["a3"]}) == 1
    assert len({out["b1"], out["b2"], out["b3"]}) == 1
    assert out["a1"] != out["b1"]


def test_distinct_entity_count(spark):
    assert distinct_entity_count(_edges_df(spark)) == 7


def test_typed_neighbors(spark):
    """Cross-subject bidirectional lookup with type whitelist
    (`Neo4j_functions.py:70-96`)."""
    from textchunking_and_knowledgegraph_spark.operators.graph import typed_neighbors

    rows = [
        ("牛顿第二定律", "相关于", "力的合成", "物理实体", "物理实体"),
        ("函数的概念", "相关于", "牛顿第二定律", "数学实体", "物理实体"),
        ("牛顿第二定律", "属于", "动力学", "物理实体", "物理实体"),
        ("化学平衡", "相关于", "牛顿第二定律", "化学实体", "物理实体"),
    ]
    edges = spark.createDataFrame(
        [(s, p, o, st, ot, "r", "p", "sha") for s, p, o, st, ot in rows],
        "subj string, pred string, obj string, subj_type string, obj_type string,"
        "repo string, path string, sha string",
    )
    out = typed_neighbors(
        edges, "牛顿第二定律", "物理实体",
        other_types=["数学实体", "化学实体"], rels=["相关于"],
    ).collect()
    got = {(r.head, r.relation, r.tail) for r in out}
    # only the cross-domain 相关于 in-edges qualify; the 物理实体→物理实体
    # and 属于 edges are filtered
    assert got == {
        ("函数的概念", "相关于", "牛顿第二定律"),
        ("化学平衡", "相关于", "牛顿第二定律"),
    }


def test_random_walk_deterministic(spark):
    from textchunking_and_knowledgegraph_spark.operators.graph import random_walk

    edges = _edges_df(spark)
    seeds = spark.createDataFrame([{"seed_node": "数学"}, {"seed_node": "集合"}])
    a = {(r.walk_id, r.walk) for r in
         random_walk(edges, seeds, walk_len=3, n_walks=2, seed=7).collect()}
    b = {(r.walk_id, r.walk) for r in
         random_walk(edges, seeds, walk_len=3, n_walks=2, seed=7).collect()}
    assert a == b and len(a) == 4  # 2 seeds x 2 walks, reproducible

    # partitioning-invariant: same result from a repartitioned edge table
    c = {(r.walk_id, r.walk) for r in
         random_walk(edges.repartition(7), seeds, walk_len=3, n_walks=2, seed=7).collect()}
    assert c == a


def test_random_walk_paths_valid_and_bounded(spark):
    from textchunking_and_knowledgegraph_spark.operators.graph import random_walk

    edges = _edges_df(spark)
    edge_set = set(_EDGES)
    seeds = spark.createDataFrame([{"seed_node": "数学"}])
    for r in random_walk(edges, seeds, walk_len=4, n_walks=3, seed=1).collect():
        nodes = r.walk.split("->")
        assert nodes[0] == "数学" and r.steps == len(nodes) - 1 <= 4
        for a, b in zip(nodes, nodes[1:]):
            assert (a, "下位", b) in edge_set

    # a dead-end seed stays put (walk ends, reference behavior)
    dead = spark.createDataFrame([{"seed_node": "二次幂"}])
    rows = random_walk(edges, dead, walk_len=3, n_walks=1, seed=1).collect()
    assert rows[0].walk == "二次幂" and rows[0].steps == 0


def test_random_walk_seed_changes_paths(spark):
    from textchunking_and_knowledgegraph_spark.operators.graph import random_walk

    edges = _edges_df(spark)
    seeds = spark.createDataFrame([{"seed_node": "数学"}])
    walks = lambda s: sorted(
        r.walk for r in random_walk(edges, seeds, walk_len=3, n_walks=4, seed=s).collect()
    )
    # different seeds must be able to produce different samples on a
    # branching graph (not a fixed traversal in disguise)
    assert any(walks(s) != walks(0) for s in (1, 2, 3))


def test_walk_skipgram_pairs(spark):
    from textchunking_and_knowledgegraph_spark.operators.graph import (
        walk_skipgram_pairs,
    )

    walks = spark.createDataFrame(
        [("w1", "a->b->c"), ("w2", "a->b")], "walk_id string, walk string"
    )
    got = {(r.center, r.context): r.freq
           for r in walk_skipgram_pairs(walks, window=1).collect()}
    # w1: (a,b) (b,a) (b,c) (c,b); w2: (a,b) (b,a)
    assert got == {
        ("a", "b"): 2, ("b", "a"): 2, ("b", "c"): 1, ("c", "b"): 1,
    }
    # window=2 reaches the path ends
    got2 = {(r.center, r.context) for r in
            walk_skipgram_pairs(walks, window=2).collect()}
    assert ("a", "c") in got2 and ("c", "a") in got2


def test_walk_skipgram_single_node_walk(spark):
    from textchunking_and_knowledgegraph_spark.operators.graph import (
        walk_skipgram_pairs,
    )

    walks = spark.createDataFrame([("w", "solo")], "walk_id string, walk string")
    assert walk_skipgram_pairs(walks).count() == 0


def _pr_fixture(spark):
    rows = [
        ("a", "r", "b"), ("a", "r", "c"), ("b", "r", "c"),
        ("c", "r", "a"), ("d", "r", "c"),  # e appears only as an object
        ("c", "r", "e"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_pagerank_invariants_and_partitioning(spark):
    """Ranks sum to 1 (dangling mass redistributed), the hub outranks the
    leaf, and the fixpoint is identical under any input partitioning."""
    from textchunking_and_knowledgegraph_spark.operators.graph import pagerank

    edges = _pr_fixture(spark)
    r1 = {r.node: r.rank for r in pagerank(edges, iters=10).collect()}
    assert abs(sum(r1.values()) - 1.0) < 1e-6
    assert r1["c"] > r1["d"]  # 3 in-edges vs 0
    r2 = {r.node: r.rank for r in pagerank(edges.repartition(7), iters=10).collect()}
    assert r1 == r2


def test_pagerank_matches_duckdb_replay(spark):
    """DuckDB recomputes the same damped iteration (same per-round 9-dp
    rounding, same uniform dangling redistribution) over the fixture;
    ranks must agree exactly -- the rounding makes the float fixpoint
    reduction-order-independent, the same stability trade the IVF oracle
    relies on."""
    import duckdb

    from textchunking_and_knowledgegraph_spark.operators.graph import pagerank

    edges = _pr_fixture(spark)
    got = {r.node: r.rank for r in pagerank(edges, iters=8).collect()}

    rows = edges.collect()
    vals = ", ".join(f"('{r.subj}', '{r.obj}')" for r in rows)
    iters_sql = ""
    for t in range(1, 9):
        p = t - 1
        iters_sql += f"""
        , contrib{t} AS (
            SELECT e.dst AS node, SUM(r.rank * e.w) AS c
            FROM w_edges e JOIN r{p} r ON e.node = r.node GROUP BY e.dst
        ), dang{t} AS (
            SELECT COALESCE(SUM(rank), 0.0) AS d FROM r{p}
            WHERE node NOT IN (SELECT node FROM out_deg)
        ), r{t} AS (
            SELECT n.node,
                   ROUND((1 - 0.85) / nn.n
                         + 0.85 * (COALESCE(c.c, 0.0)
                                   + (SELECT d FROM dang{t}) / nn.n), 9) AS rank
            FROM nodes n CROSS JOIN ncount nn
            LEFT JOIN contrib{t} c ON n.node = c.node
        )"""
    sql = f"""
        WITH e(src, dst) AS (VALUES {vals}),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT dst FROM e),
        ncount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        out_deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
        w_edges AS (SELECT e.src AS node, e.dst, 1.0 / d.deg AS w
                    FROM e JOIN out_deg d ON e.src = d.node),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM ncount) AS rank FROM nodes)
        {iters_sql}
        SELECT node, rank FROM r8
    """
    want = {n: r for n, r in duckdb.connect().execute(sql).fetchall()}
    assert got == want
