"""Canonicalization: connected components, in one task or by iterative
min-label propagation.

The scale-out of the reference's single-node dedup-and-vote
(`EntityLinking/Entity_Linking.py:43-72` ordered dedup;
`StoreToNeo4j/Neo4j_functions.py:156-166` label-propagation vote): alias
edges (from linking + exact normalized-name matches) define an undirected
graph; each component collapses to one representative (its smallest member
in the id's own type -- deterministic).

``connected_components`` is the one entry point (dedup decisions,
first-seen store decisions, alias components, triple canonicalization) and
picks the plan from the size of the symmetrized edge set, which it counts
while caching it (one observed write):

* at most ``_LOCAL_CC_EDGES`` rows (the benchmark's 5k-doc dedup store,
  ~2k rows; a 25k-doc store): one ``mapInPandas`` task runs union-find
  over the whole cached edge set in numpy -- one job instead of ~4 jobs
  per round;
* larger graphs (the 1.28M-doc stress graph, 25.76M pairs): per round, two
  hash joins (labels -> neighbor minimum, then pointer jumping),
  ``localCheckpoint()`` to truncate lineage (SURVEY.md 4.2) and a
  convergence probe. Min-label is monotonically decreasing, and pointer
  jumping keeps realistic alias graphs within ~15 rounds; a graph that
  needs more than ``_MAX_ROUNDS`` raises instead of returning unconverged
  labels.

Both plans label a component with its minimum id under Spark's ordering of
the id type (binary UTF-8 for strings, which is code-point order, as in
Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Largest symmetrized edge set (both directions, distinct, no self-loops)
# labelled in one task. Measured at local[4] on random sparse graphs of
# 16-char ids: the one task took 1.2 / 1.5 / 5.3 s at 100k / 300k / 1M rows
# and its Python worker peaked at 152 / 219 / 434 MB VmHWM, while the loop
# took 63 / 56 / 97 s. Time never favours the loop in that range; the cap
# bounds the one worker's memory.
_LOCAL_CC_EDGES = 1_000_000

# Round cap of the distributed loop: pointer jumping converges in
# O(log diameter) rounds, so a graph still changing after this many is
# reported, not silently mislabelled.
_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """edges[src, dst] -> [id, component] where component is the min id in
    the connected component. Isolated vertices of the edge set are included
    (every endpoint appears); self-loops and edges with a null endpoint are
    dropped. The result is checkpointed (no lineage into ``edges``)."""
    # both directions come from one read of ``edges``, so its plan (e.g. a
    # verify UDF) runs once; a union of two selects would run it twice.
    # Persisted: every loop round joins it twice, and without the barrier
    # the inline+distinct re-executes per round
    sym = (
        edges.select(
            F.inline(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            )
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    try:
        # the write that fills the cache also takes its size: an observed
        # noop write is one job fewer than count(), which adds a final
        # aggregation job
        size = Observation()
        sym.observe(size, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        if size.get["rows"] <= _LOCAL_CC_EDGES:
            return _cc_local(sym)
        return _cc_loop(sym)
    finally:
        # always release -- a leaked persisted edge set accumulates across
        # repeated canonicalize calls (streaming foreachBatch, retries)
        sym.unpersist()


def _cc_local(sym: DataFrame) -> DataFrame:
    """All of ``sym`` through one ``mapInPandas`` task. ``coalesce`` rather
    than ``repartition``: ``sym`` is cached, so the one task reads the cached
    blocks without a shuffle. Eagerly checkpointed, so the caller may
    release ``sym``."""
    t = sym.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("id", t), T.StructField("component", t)]
    )
    return (
        sym.coalesce(1)
        .mapInPandas(_label_components, schema)
        .localCheckpoint(eager=True)
    )


def _label_components(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Union-find over every batch's (a, b) edges at once: ids are
    factorized to sorted codes (so the smallest code is the smallest id),
    then each round hooks, for every edge whose endpoints have different
    roots, the larger root under the smaller one and jumps pointers until
    every vertex points at its root. A root only ever points lower, so the
    component's minimum stays its root. Every unconverged round merges at
    least one pair of trees, and in practice the number of trees in a
    component shrinks geometrically: a 500k-node chain over shuffled ids
    converges in 12 rounds."""
    frames = [f for f in batches if len(f)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    codes, ids = pd.factorize(
        np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]), sort=True
    )
    u, v = codes[: len(pdf)], codes[len(pdf):]
    del pdf, frames
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            break
        u, v, pu, pv = u[cross], v[cross], pu[cross], pv[cross]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    yield pd.DataFrame({"id": ids, "component": ids[parent]})


def _cc_loop(sym: DataFrame) -> DataFrame:
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(_MAX_ROUNDS):
        # 1-hop min propagation over the edge set
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        hop = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping (path halving): component <- component's component.
        # Turns O(diameter) rounds into O(log diameter) -- a 10^6-long alias
        # chain converges in ~20 rounds instead of 10^6.
        ptr = hop.select(F.col("id").alias("cid"), F.col("component").alias("ccomp"))
        new_labels = (
            hop.join(ptr, hop.component == ptr.cid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("ccomp", F.col("component"))
                ).alias("component"),
            )
        )
        # checkpoint FIRST (materializes the round once), then run the
        # convergence probe against the cached result -- probing before the
        # checkpoint recomputed every round's joins twice
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            # labels are checkpointed (no lineage into sym) -- caller
            # releases sym
            return labels
    raise RuntimeError(
        f"connected components did not converge within _MAX_ROUNDS={_MAX_ROUNDS} rounds"
    )


def alias_components(
    aliases: DataFrame,
    alias_col: str = "alias",
    canonical_col: str = "entity",
) -> DataFrame:
    """alias pairs -> [name, canonical] mapping (canonical = component min)."""
    cc = connected_components(aliases, src=alias_col, dst=canonical_col)
    return cc.select(F.col("id").alias("name"), F.col("component").alias("canonical"))


def _norm_name(col):
    """Exact-normalization key: lower, strip whitespace/punctuation and the
    CJK possessive 的 -- the deterministic 'same entity' heuristic that seeds
    alias edges (mirrors the near-dup families in the reference vocabularies,
    e.g. 函数的概念 == 函数概念)."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[\s\.,;:()（）、，。·_\-]+", "")
    c = F.regexp_replace(c, "的", "")
    return c


def normalization_alias_edges(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Self-alias edges from exact normalized-name collisions: every name in
    a collision group is aliased to the group's min name. groupBy+min is one
    map-side-combinable aggregation -- no pairwise explosion."""
    n = names.select(F.col(name_col).alias("name")).distinct()
    keyed = n.withColumn("k", _norm_name(F.col("name")))
    rep = keyed.groupBy("k").agg(F.min("name").alias("rep"))
    return (
        keyed.join(rep, "k")
        .filter(F.col("name") != F.col("rep"))
        .select(F.col("name").alias("src"), F.col("rep").alias("dst"))
    )


def canonicalize_triples(
    triples: DataFrame,
    extra_alias_edges: DataFrame | None = None,
) -> DataFrame:
    """Map triple subj/obj to canonical representatives (two hash joins after
    a components build over normalization + provided alias edges). Chunk-id
    objects are never canonicalized (they are content addresses, not names).

    The input is checkpointed first: this operator consumes ``triples`` four
    times (name collection + CC + two endpoint joins) and would otherwise
    re-execute the whole extraction subtree per consumer. Eager: lazy
    localCheckpoints truncate lineage mid-job and straggler completions then
    hit unregistered accumulators (DAGScheduler error noise)."""
    triples = triples.localCheckpoint(eager=True)
    names = (
        triples.select(
            F.explode(
                F.array(
                    F.struct(F.col("subj").alias("name"), F.col("subj_type").alias("t")),
                    F.struct(F.col("obj").alias("name"), F.col("obj_type").alias("t")),
                )
            ).alias("v")
        )
        .filter(F.col("v.t") != "chunk")
        .select(F.col("v.name").alias("name"))
        .distinct()
    )
    edges = normalization_alias_edges(names)
    if extra_alias_edges is not None:
        edges = edges.unionByName(extra_alias_edges.select("src", "dst")).distinct()
    if edges.isEmpty():
        return merge_dedup(triples, triples.columns)
    mapping = connected_components(edges).select(
        F.col("id").alias("name"), F.col("component").alias("canonical")
    )
    t = (
        triples.join(mapping.withColumnRenamed("name", "subj"), "subj", "left")
        .withColumn("subj", F.coalesce("canonical", "subj"))
        .drop("canonical")
    )
    t = (
        t.join(
            mapping.withColumnRenamed("name", "obj").withColumnRenamed("canonical", "ocanon"),
            "obj",
            "left",
        )
        .withColumn(
            "obj",
            F.when(F.col("obj_type") == "chunk", F.col("obj")).otherwise(
                F.coalesce("ocanon", "obj")
            ),
        )
        .drop("ocanon")
    )
    return merge_dedup(t.select(triples.columns), triples.columns)


def merge_dedup(t: DataFrame, columns: list[str]) -> DataFrame:
    """Deterministic MERGE dedup on (subj, pred, obj, sha): when
    canonicalization collapses two rows onto the same key, keep the
    lexicographically-smallest attribute tuple (struct-min, nulls first) --
    not ``dropDuplicates``'s arbitrary first-seen row, which varies with
    partitioning and task order. Still one shuffle with map-side partial
    aggregation (min is combinable), same cost as dropDuplicates."""
    keys = ["subj", "pred", "obj", "sha"]
    others = [c for c in columns if c not in keys]
    merged = t.groupBy(*keys).agg(F.min(F.struct(*others)).alias("_rest"))
    return merged.select(
        *keys, *[F.col(f"_rest.{c}").alias(c) for c in others]
    ).select(columns)
