"""Graph materialization: vertex/edge tables, per-partition commit manifest,
lineage/metrics sink, checkpoint-based resume.

Scale-out of the reference's persistence layer (`StoreToNeo4j/Neo4j_functions.py:14-31`
per-row MERGE over bolt; `ES_Importer/es_importer.py:40-51` bulk import), with the
north rule's operational requirements (`BASELINE.json:6,14`):

- edges partitioned by ``repo_bucket`` (Iceberg ``bucket(repo)`` emulated as
  ``pmod(xxhash64(repo), NB)`` -- identical data layout, parquet locally).
- **checkpoint-based resume**: every pending bucket is written by ONE Spark
  write; once it succeeds, a manifest JSON per bucket records (rows, docs,
  sha_count, t_ms) -- all committed together, sharing the write's t_ms.
  A run killed during the edge write commits no manifest, so its re-run
  rewrites every pending bucket; a run killed later (vertex write) is
  re-run with every bucket skipped and only the vertices rebuilt. Bucket
  contents are deterministic, so the final output is identical to an
  uninterrupted run.
- **MERGE semantics** (J10): dropDuplicates on the canonical key before
  write -- the distributed equivalent of Cypher MERGE's anti-join insert.
- **lineage**: edges carry (repo, path, commit, sha); the manifest stores
  per-partition row counts + distinct sha counts as the metrics side-channel.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_KEY = ["subj", "pred", "obj", "sha"]


def _manifest_path(checkpoint_dir: str, name: str) -> str:
    return os.path.join(checkpoint_dir, f"{name}.json")


def committed_buckets(checkpoint_dir: str | None) -> set[int]:
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return set()
    out = set()
    for fn in os.listdir(checkpoint_dir):
        if fn.startswith("bucket_") and fn.endswith(".json"):
            out.add(int(fn[len("bucket_"):-len(".json")]))
    return out


def _commit(checkpoint_dir: str, name: str, payload: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = _manifest_path(checkpoint_dir, name) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _manifest_path(checkpoint_dir, name))  # atomic commit


def materialize_graph(
    triples: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    spark: SparkSession | None = None,
    n_buckets: int = 16,
    files_per_bucket: int = 4,
) -> dict:
    """Write edge table (bucketed by repo hash, resumable) + vertex table.

    Returns summary stats {'edges': int, 'vertices': int, 'skipped_buckets': [...]}.

    On a real cluster this maps 1:1 onto Iceberg ``overwritePartitions``
    snapshots; the manifest emulation keeps identical semantics without the
    runtime jar (SURVEY.md 7.0).
    """
    # persist the layout parameters: an incremental update with a DIFFERENT
    # n_buckets would hash the same repo into a different partition, miss
    # existing rows in its anti-join, and write duplicates. add_content
    # reads this and adopts the stored bucketing.
    os.makedirs(output_dir, exist_ok=True)
    with open(os.path.join(output_dir, "_graph_meta.json"), "w") as f:
        json.dump({"n_buckets": n_buckets, "files_per_bucket": files_per_bucket}, f)

    edges = (
        triples.dropDuplicates(EDGE_KEY)
        .withColumn("repo_bucket", F.pmod(F.xxhash64("repo"), F.lit(n_buckets)).cast("int"))
        .persist()
    )
    try:
        done = committed_buckets(checkpoint_dir)
        skipped = sorted(done)
        total_rows = sum(
            json.load(open(_manifest_path(checkpoint_dir, f"bucket_{b}")))["rows"]
            for b in skipped
        )
        edge_dir = os.path.join(output_dir, "edges")
        t0 = time.time()

        pending = edges
        if done:
            # resume: committed buckets are filtered out BEFORE the write --
            # dynamic partition overwrite touches only pending directories
            pending = edges.filter(~F.col("repo_bucket").isin(sorted(done)))

        # ONE write for every pending bucket: O(1) Spark jobs regardless of
        # n_buckets (the round-1 per-bucket loop issued n_buckets sequential
        # full passes). Partitioning key = (repo_bucket, subj-hash salt):
        # repartitioning on repo_bucket ALONE would make each bucket a
        # single task/file -- a multi-TB task at 100 TB scale. The salt
        # gives files_per_bucket parallel writers per bucket directory
        # (size files_per_bucket so files land ~512 MB at the target
        # scale); sortWithinPartitions keeps the deterministic subj-ordered
        # layout for downstream point-join locality (SURVEY.md 4.3). On a
        # real cluster this is Iceberg overwritePartitions on bucket(repo).
        salt = F.pmod(F.xxhash64("subj"), F.lit(files_per_bucket))
        (
            pending.repartition(
                n_buckets * files_per_bucket, F.col("repo_bucket"), salt
            )
            .sortWithinPartitions("repo_bucket", "subj")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("repo_bucket")
            .parquet(edge_dir)
        )
        # per-bucket stats from ONE grouped aggregation over the same cache
        stats = {
            int(r["repo_bucket"]): r
            for r in pending.groupBy("repo_bucket")
            .agg(
                F.count("*").alias("rows"),
                F.countDistinct("sha").alias("sha_count"),
                F.countDistinct("path").alias("docs"),
            )
            .collect()  # n_buckets rows -- manifest stats, not hot path
        }
        write_ms = int((time.time() - t0) * 1000)
        # dynamic overwrite only touches partitions PRESENT in `pending`:
        # a pending bucket that has zero rows this run but holds data from
        # a previous run into the same output_dir would silently keep its
        # stale files (the round-1 per-bucket loop overwrote every
        # directory unconditionally). Restore that guarantee driver-side:
        # O(n_buckets) directory removals, no extra Spark jobs.
        import shutil

        for b in range(n_buckets):
            if b not in done and stats.get(b) is None:
                shutil.rmtree(
                    os.path.join(edge_dir, f"repo_bucket={b}"), ignore_errors=True
                )
        for b in range(n_buckets):
            if b in done:
                continue
            r = stats.get(b)
            payload = {
                "bucket": b,
                "rows": int(r["rows"]) if r else 0,
                "sha_count": int(r["sha_count"]) if r else 0,
                "docs": int(r["docs"]) if r else 0,
                "t_ms": write_ms,  # shared single-pass write time
            }
            total_rows += payload["rows"]
            if checkpoint_dir:
                _commit(checkpoint_dir, f"bucket_{b}", payload)

        from .pipeline import build_vertices

        # Vertices are derived from the PERSISTED edge table, not from this
        # run's triples: on a recovery re-run (e.g. the streaming-ingest
        # fallback replaying one batch after a crash mid-vertex-write) the
        # triples argument holds ONLY the replayed batch, and building
        # vertices from it would silently drop every earlier batch's
        # vertices while edges stay complete. The persisted table is always
        # the union of all committed buckets, and the scan is column-pruned
        # to the endpoint/type columns.
        ss = spark or triples.sparkSession
        persisted = ss.read.parquet(edge_dir).drop("repo_bucket")
        vdir = os.path.join(output_dir, "vertices")
        # name-hash bucketed layout (same n_buckets as edges, recorded in
        # _graph_meta.json): add_content merges vertices per affected
        # bucket with dynamic partition overwrite instead of rewriting the
        # whole table per increment. Salted like the edge write so a
        # bucket is never a single task/file.
        bucketed_v = build_vertices(persisted).withColumn(
            "v_bucket", F.pmod(F.xxhash64("name"), F.lit(n_buckets)).cast("int")
        )
        salt_v = F.pmod(F.xxhash64("name", "type"), F.lit(files_per_bucket))
        (
            bucketed_v.repartition(
                n_buckets * files_per_bucket, F.col("v_bucket"), salt_v
            )
            .sortWithinPartitions("v_bucket", "name")
            .write.mode("overwrite")
            .partitionBy("v_bucket")
            .parquet(vdir)
        )
        n_vertices = ss.read.parquet(vdir).count()
        if checkpoint_dir:
            _commit(checkpoint_dir, "vertices", {"rows": n_vertices})
        return {"edges": total_rows, "vertices": n_vertices, "skipped_buckets": skipped}
    finally:
        edges.unpersist()
