"""Graph query operators over the materialized vertex/edge tables.

DataFrame re-expressions of the reference's Cypher reads
(`StoreToNeo4j/Neo4j_functions.py`): every Neo4j MATCH becomes an equi hash
join against the edge table; the dictionary/vertex side broadcasts.

  J7  head/tail neighbor lookups with limits   `Neo4j_functions.py:45-67,99-139`
  J8  bounded multi-hop traversal              `Neo4j_functions.py:142-153`
  J9  lowest common ancestor                   `Neo4j_functions.py:181-202`
  J10 MERGE = anti-join insert                 `Neo4j_functions.py:14-31`
  A6  label-propagation community vote         `Neo4j_functions.py:156-166`
  A4  distinct entity count                    `Neo4j_functions.py:34-40`
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def neighbors(
    edges: DataFrame,
    name: str,
    rels: list[str] | None = None,
    direction: str = "out",
    limit: int = 10,
) -> DataFrame:
    """J7/W2: `MATCH (n {name})-[r:T]->(m) RETURN m LIMIT k` and the reverse.
    Multi-label disjunction = isin()."""
    df = edges
    if rels:
        df = df.filter(F.col("pred").isin(rels))
    if direction == "out":
        df = df.filter(F.col("subj") == name).select(
            F.col("obj").alias("neighbor"), F.col("pred")
        )
    else:
        df = df.filter(F.col("obj") == name).select(
            F.col("subj").alias("neighbor"), F.col("pred")
        )
    return df.orderBy("neighbor").limit(limit)


def multi_hop(
    edges: DataFrame,
    start: str,
    rels: list[str] | None = None,
    max_hops: int = 3,
) -> DataFrame:
    """J8: variable-length traversal <= max_hops with relation whitelist.
    Iterative frontier self-join (BFS), dedup per hop; frontier is tiny
    relative to the edge table -> broadcast the frontier side."""
    e = edges.select("subj", "obj", "pred")
    if rels:
        e = e.filter(F.col("pred").isin(rels))
    e = e.persist()
    try:
        frontier = e.sparkSession.createDataFrame(
            [(start, 0)], "node string, hop int"
        )
        seen = frontier
        for hop in range(1, max_hops + 1):
            nxt = (
                e.join(F.broadcast(frontier), e.subj == frontier.node)
                .select(F.col("obj").alias("node"), F.lit(hop).alias("hop"))
                .distinct()
                .join(seen.select("node"), "node", "left_anti")
            ).localCheckpoint()
            if nxt.isEmpty():
                break
            seen = seen.unionByName(nxt).localCheckpoint()
            frontier = nxt
        return seen.filter(F.col("hop") > 0)
    finally:
        e.unpersist()


def ancestors(edges: DataFrame, start: str, rel: str, max_hops: int = 10) -> DataFrame:
    """Frontier expansion along reversed `rel` edges (child -> parent)."""
    parents = edges.filter(F.col("pred") == rel).select(
        F.col("obj").alias("node"), F.col("subj").alias("parent")
    )
    return multi_hop(
        parents.select(F.col("node").alias("subj"), F.col("parent").alias("obj"),
                       F.lit(rel).alias("pred")),
        start,
        max_hops=max_hops,
    ).withColumnRenamed("hop", "depth")


def lowest_common_ancestor(
    edges: DataFrame, a: str, b: str, rel: str = "上位", max_hops: int = 10
) -> DataFrame:
    """J9/W4: two ancestor expansions, intersect, deepest wins (max combined
    depth from the two leaves = the reference's `ORDER BY size() DESC LIMIT 1`
    applied to path length)."""
    aa = ancestors(edges, a, rel, max_hops).withColumnRenamed("depth", "depth_a")
    bb = ancestors(edges, b, rel, max_hops).withColumnRenamed("depth", "depth_b")
    return (
        aa.join(bb, "node")
        .orderBy(F.asc(F.col("depth_a") + F.col("depth_b")), F.asc("node"))
        .limit(1)
        .select("node", "depth_a", "depth_b")
    )


def random_walk(
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = 4,
    n_walks: int = 2,
    seed: int = 42,
    rels: list[str] | None = None,
    draw_hash: str = "xxhash64",
) -> DataFrame:
    """Random-walk neighborhood sampling (`StoreToNeo4j/Neo4j_functions.py:169-178`
    samples one random relationship path per entity).

    Distributed + deterministic: all walks advance in lockstep -- each step
    is ONE equi hash-join of the walk frontier against the edge table, and
    the per-walk "random" neighbor choice is argmin of
    ``hash(seed|walk_id|step|candidate)`` -- a seeded hash draw,
    reproducible across runs and partitionings with no RNG state to
    coordinate.

    ``draw_hash`` selects the draw function. The default ``xxhash64`` is
    the cheap native path for corpus-scale walks: the per-step window sorts
    longs, no hex-string materialization. ``md5`` exists so a caller can
    make the ENTIRE stochastic walk replayable in an external SQL oracle
    (DuckDB computes the identical hex digest; ordering by digest string ==
    ordering by the draw) -- the driver's contract entry opts into it.
    Walks that reach a node with no outgoing edge simply stop
    (the reference's walk ends when Neo4j returns no relationship).

    ``seeds``: one column of start nodes. Output: one row per walk --
    (walk_id, seed_node, walk, steps) with the path serialized as
    ``a->b->c`` (array columns crash pandas-based result canonicalizers).
    """
    if draw_hash not in ("xxhash64", "md5"):
        raise ValueError(f"draw_hash must be 'xxhash64' or 'md5', got {draw_hash!r}")
    e = edges
    if rels:
        e = e.filter(F.col("pred").isin(rels))
    e = e.select(F.col("subj").alias("_src"), F.col("obj").alias("_dst"))

    walks = (
        seeds.select(F.col(seeds.columns[0]).alias("seed_node"))
        .distinct()
        .select(
            "seed_node",
            F.explode(F.array(*[F.lit(str(i)) for i in range(n_walks)])).alias("_wno"),
        )
        .select(
            F.concat_ws("#", "seed_node", "_wno").alias("walk_id"),
            "seed_node",
            F.col("seed_node").alias("cur"),
            F.array("seed_node").alias("path"),
        )
    )
    hash_fn = F.md5 if draw_hash == "md5" else F.xxhash64
    for step in range(1, walk_len + 1):
        cand = walks.join(e, walks.cur == e._src, "left")
        draw = hash_fn(
            F.concat_ws(
                "|",
                F.lit(str(seed)),
                F.col("walk_id"),
                F.lit(str(step)),
                F.col("_dst"),
            )
        )
        if draw_hash == "xxhash64":
            # xxhash64(NULL-bearing concat) is still non-null; draw only on
            # real candidates so dead-end walks keep the NULLS LAST contract.
            draw = F.when(F.col("_dst").isNotNull(), draw)
        w = Window.partitionBy("walk_id").orderBy(
            draw.asc_nulls_last(),
            F.col("_dst").asc_nulls_last(),
        )
        walks = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "walk_id",
                "seed_node",
                F.coalesce("_dst", "cur").alias("cur"),
                F.when(
                    F.col("_dst").isNotNull(),
                    F.concat(F.col("path"), F.array(F.col("_dst"))),
                ).otherwise(F.col("path")).alias("path"),
            )
        )
    return walks.select(
        "walk_id",
        "seed_node",
        F.concat_ws("->", "path").alias("walk"),
        (F.size("path") - 1).alias("steps"),
    )


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, freq) skip-gram training pairs from walk paths --
    the corpus-generation step of node2vec/DeepWalk-style graph-embedding
    training over the KG (the natural consumer of ``random_walk`` output).

    Pure column algebra: split each serialized walk back to its node array,
    pair every position with its +-window neighborhood via nested
    transform/sequence lambdas (JVM, no UDF), one flatten-explode, then a
    map-side-combinable count. Scales as O(total_walk_length * window).
    """
    nodes = F.split(F.col("walk"), "->")
    n = F.size(nodes)
    pair_lists = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.filter(
            F.transform(
                F.sequence(
                    F.greatest(F.lit(1), i - window), F.least(n, i + window)
                ),
                lambda j: F.when(
                    j != i,
                    F.struct(
                        F.element_at(nodes, i).alias("center"),
                        F.element_at(nodes, j).alias("context"),
                    ),
                ),
            ),
            lambda s: s.isNotNull(),
        ),
    )
    return (
        walks.select(F.explode(F.flatten(pair_lists)).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"), F.col("p.context").alias("context")
        )
        .agg(F.count("*").alias("freq"))
    )


def merge_vertices(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """J10: MERGE semantics -- insert only vertices not already present
    (left_anti on the natural key), then append."""
    new = incoming.join(existing, ["name", "type"], "left_anti")
    return existing.unionByName(new)


def label_propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """A6/W3: one round of the community vote -- each node adopts its
    neighbors' most frequent label (freq desc, label asc tie-break), keeping
    its own when it has no labeled neighbor."""
    sym = edges.select(F.col("subj").alias("node"), F.col("obj").alias("nbr")).unionByName(
        edges.select(F.col("obj").alias("node"), F.col("subj").alias("nbr"))
    )
    votes = (
        sym.join(labels.withColumnRenamed("node", "nbr"), "nbr")
        .groupBy("node", "label")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("freq"), F.asc("label"))
    winners = votes.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select(
        "node", F.col("label").alias("new_label")
    )
    return (
        labels.join(winners, "node", "left")
        .select("node", F.coalesce("new_label", "label").alias("label"))
    )


def label_propagation(edges: DataFrame, labels: DataFrame, rounds: int = 5) -> DataFrame:
    for _ in range(rounds):
        labels = label_propagation_round(edges, labels).localCheckpoint()
    return labels


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    round_dp: int = 9,
) -> DataFrame:
    """PageRank over the directed triple graph -- entity importance for KG
    curation/ranking (beyond the reference surface, like ``random_walk``:
    the natural consumer is ranking extracted entities before linking).

    Spark shape per iteration: ONE hash join of the rank vector against
    the out-degree-weighted edge list + a map-side-combinable groupBy sum
    -- no GraphX, no RDDs. Dangling mass (nodes without out-edges) is
    redistributed uniformly each iteration so ranks keep summing to 1.
    Per-iteration ranks round to ``round_dp`` decimals, making the fixpoint
    stable across partial-aggregation orders (float sums are
    reduction-order-sensitive in the last bits; the same stability trade
    ann.fit_ivf_centroids makes). localCheckpoint per iteration truncates
    the iterative lineage (SURVEY.md 4.2)."""
    # materialize the slim (src, dst) projection ONCE: nodes, out-degrees,
    # weighted edges and the per-iteration dangling probe all derive from
    # it, and without the barrier the whole upstream plan (extraction UDFs,
    # joins -- whatever built the edge list) re-executes per consumer per
    # iteration (measured: 6x slower on the contract fixture)
    e = edges.select(
        F.col("subj").alias("node"), F.col("obj").alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select("node")
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("node").agg(F.count("*").alias("deg"))
    # (src, dst, weight) with weight = 1/outdeg(src), reused every round
    w_edges = (
        e.join(out_deg, "node")
        .select("node", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint(eager=True)
    )
    # the dangling node SET is static -- compute it once, not per round
    dangling_nodes = nodes.join(out_deg, "node", "left_anti").localCheckpoint(
        eager=True
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            w_edges.join(ranks, "node")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        dangling = (
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("c", F.lit(0.0)) + F.lit(float(dangling) / n)),
                    round_dp,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def distinct_entity_count(edges: DataFrame) -> int:
    """A4: `list(set(entities))` scale-out."""
    return (
        edges.select(F.col("subj").alias("n"))
        .unionByName(edges.select(F.col("obj").alias("n")))
        .distinct()
        .count()
    )


def typed_neighbors(
    edges: DataFrame,
    name: str,
    entity_type: str,
    other_types: list[str] | None = None,
    rels: list[str] | None = None,
    limit: int = 10,
) -> DataFrame:
    """J7 cross-subject variant (`Neo4j_functions.py:70-96,99-139`):
    bidirectional typed neighbor lookup -- both (other)-[r]->(probe) and
    (probe)-[r]->(other) rows, with a type whitelist on the other side and
    optional relation whitelist. Returns (head, relation, tail, provenance)
    like the reference's DataFrame, capped per direction."""
    def _match(df, probe_is_subj: bool):
        if probe_is_subj:
            df = df.filter((F.col("subj") == name) & (F.col("subj_type") == entity_type))
            if other_types:
                df = df.filter(F.col("obj_type").isin(other_types))
        else:
            df = df.filter((F.col("obj") == name) & (F.col("obj_type") == entity_type))
            if other_types:
                df = df.filter(F.col("subj_type").isin(other_types))
        if rels:
            df = df.filter(F.col("pred").isin(rels))
        return (
            df.select(
                F.col("subj").alias("head"),
                F.col("pred").alias("relation"),
                F.col("obj").alias("tail"),
                F.col("repo"), F.col("path"), F.col("sha"),
            )
            .orderBy("head", "relation", "tail")
            .limit(limit)
        )

    return _match(edges, True).unionByName(_match(edges, False))
