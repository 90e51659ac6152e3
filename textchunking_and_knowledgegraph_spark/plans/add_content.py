"""Incremental add-content: merge a new batch of documents into a persisted
graph -- the distributed form of `AddContent/Update_Content.py:24-59` (the
reference re-runs its chunk/extract/link loop on one new book and MERGEs the
results into the live Neo4j graph).

Scale shape: the new batch's triples touch only a few repo buckets; instead
of rewriting the whole edge table, the plan

  1. builds triples for the new source (same fused pipeline as a full run),
  2. anti-joins them against ONLY the affected buckets of the persisted
     table (MERGE semantics, J10 -- `StoreToNeo4j/Neo4j_functions.py:14-31`),
  3. rewrites those buckets with dynamic partition overwrite (Iceberg:
     ``overwritePartitions`` on ``bucket(repo)``; parquet emulation here)
     and recommits their manifests from the per-bucket row counts observed
     on that write,
  4. merges the vertex table the same way, per affected ``v_bucket``; the
     manifests count edges only, so they are already committed by then.

Unaffected buckets are never read or written -- an append of one repo to a
10^12-file table costs O(new data + affected buckets), not O(table).

The layout (bucket columns, salted writes, manifests, ``_graph_meta.json``)
is ``materialize.py``'s; this module only writes through it. A graph that
predates it -- no ``_graph_meta.json``, or a flat vertex table without
``v_bucket`` -- is refused with a ``ValueError`` before anything is written:
rebuild it with ``materialize_graph``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import merge_vertices
from .materialize import (
    EDGE_KEY,
    read_graph_meta,
    with_bucket,
    write_buckets,
    write_edge_buckets,
)
from .pipeline import build_triples, build_vertices


def add_content(
    spark: SparkSession,
    output_dir: str,
    new_source: DataFrame,
    checkpoint_dir: str | None = None,
    cfg=None,
) -> dict:
    """Merge ``new_source`` documents into the graph persisted at
    ``output_dir`` by ``materialize_graph``, adopting its bucketing.
    ``cfg`` is the same PipelineConfig the full build used
    (linking/canonicalization parity). Returns
    {'new_edges': int, 'affected_buckets': [...]}.
    """
    t0 = time.time()
    n_buckets, files_per_bucket = read_graph_meta(output_dir)
    vertices_raw = spark.read.parquet(os.path.join(output_dir, "vertices"))
    if "v_bucket" not in vertices_raw.columns:
        raise ValueError(
            f"{output_dir} has a flat vertex table (no v_bucket partitions, "
            "written before the bucketed layout); rebuild it with "
            "materialize_graph"
        )

    new_edges = with_bucket(
        build_triples(spark, new_source, cfg).dropDuplicates(EDGE_KEY),
        "edges", n_buckets,
    ).persist()
    try:
        affected = sorted(
            r["repo_bucket"]
            for r in new_edges.select("repo_bucket").distinct().collect()
        )
        if not affected:
            return {"new_edges": 0, "affected_buckets": []}

        # read ONLY affected buckets; localCheckpoint materializes them so
        # the dynamic-overwrite write below doesn't read the files it is
        # replacing (Iceberg snapshots make this copy unnecessary on a
        # cluster -- MERGE INTO commits a new snapshot).
        edge_dir = os.path.join(output_dir, "edges")
        existing = (
            spark.read.parquet(edge_dir)
            .filter(F.col("repo_bucket").isin(affected))
            .localCheckpoint(eager=True)
        )
        incoming = new_edges.join(existing, EDGE_KEY, "left_anti")
        merged = existing.unionByName(incoming.select(*existing.columns))
        # the manifests of the affected buckets are recommitted from the
        # row counts observed on this write (lineage/metrics stay true)
        write_edge_buckets(merged, affected, output_dir, checkpoint_dir,
                           files_per_bucket, t0)

        # vertex MERGE (anti-join insert, existing vertices win), read and
        # rewritten only in the buckets the new batch's vertex names hash
        # into -- not O(all vertices) per micro-batch
        new_v = with_bucket(
            build_vertices(new_edges.drop("repo_bucket")), "vertices", n_buckets
        ).localCheckpoint(eager=True)
        affected_v = sorted(
            r["v_bucket"] for r in new_v.select("v_bucket").distinct().collect()
        )
        existing_v = (
            vertices_raw.filter(F.col("v_bucket").isin(affected_v))
            .drop("v_bucket")
            .localCheckpoint(eager=True)
        )
        merged_v = with_bucket(
            merge_vertices(existing_v, new_v.drop("v_bucket")), "vertices", n_buckets
        )
        write_buckets(merged_v, output_dir, "vertices", files_per_bucket, "dynamic")
        return {"new_edges": incoming.count(), "affected_buckets": affected}
    finally:
        new_edges.unpersist()
