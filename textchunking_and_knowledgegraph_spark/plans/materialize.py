"""Graph materialization: vertex/edge tables, per-partition commit manifest,
lineage/metrics sink, checkpoint-based resume.

Scale-out of the reference's persistence layer (`StoreToNeo4j/Neo4j_functions.py:14-31`
per-row MERGE over bolt; `ES_Importer/es_importer.py:40-51` bulk import), with the
north rule's operational requirements (`BASELINE.json:6,14`).

This module owns the graph's on-disk layout; ``add_content`` writes through
the same helpers:

- ``edges/repo_bucket=<b>/`` with ``b = pmod(xxhash64(repo), n_buckets)``
  (Iceberg ``bucket(repo)`` emulated -- identical data layout, parquet
  locally) and ``vertices/v_bucket=<b>/`` with ``b = pmod(xxhash64(name),
  n_buckets)``; ``_graph_meta.json`` records ``n_buckets`` and
  ``files_per_bucket`` (``read_graph_meta``). A graph without it, or with a
  flat vertex table, is refused by ``add_content``: rebuild it here.
- **checkpoint-based resume**: every pending bucket is written by ONE Spark
  write; once it succeeds, a manifest JSON per bucket records (bucket,
  rows, t_ms) -- all committed together, sharing the write's t_ms.
  A run killed during the edge write commits no manifest, so its re-run
  rewrites every pending bucket; a run killed later (vertex write) is
  re-run with every bucket committed, so it skips the edge write -- and
  the extraction upstream of it -- and only rebuilds the vertices from
  the persisted edges. Bucket contents are deterministic, so the final
  output is identical to an uninterrupted run.
- **MERGE semantics** (J10): dropDuplicates on the canonical key before
  write -- the distributed equivalent of Cypher MERGE's anti-join insert.
- **lineage**: edges carry (repo, path, commit, sha).
- **counts from the writes**: the per-bucket manifest rows and the vertex
  total are ``Observation`` metrics of the writes themselves (Delta Lake
  and Iceberg take table statistics the same way): no pass over the data
  exists only to count it -- no edge cache, no stats aggregation, no
  re-count of the written vertices.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

EDGE_KEY = ["subj", "pred", "obj", "sha"]
_GRAPH_META = "_graph_meta"

# table -> (bucket column, hashed key, salt columns, sort column)
_LAYOUT = {
    "edges": ("repo_bucket", "repo", ("subj",), "subj"),
    "vertices": ("v_bucket", "name", ("name", "type"), "name"),
}


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


def read_graph_meta(output_dir: str) -> tuple[int, int]:
    """``(n_buckets, files_per_bucket)`` the graph at ``output_dir`` was
    written with. An increment must adopt them: a different n_buckets would
    hash a repo into a different partition than its existing rows, miss
    them in the anti-join, and write duplicates."""
    path = _manifest_path(output_dir, _GRAPH_META)
    if not os.path.exists(path):
        raise ValueError(
            f"{output_dir} has no {_GRAPH_META}.json (written before the "
            "graph layout was recorded); rebuild it with materialize_graph"
        )
    with open(path) as f:
        meta = json.load(f)
    return int(meta["n_buckets"]), int(meta["files_per_bucket"])


def with_bucket(df: DataFrame, table: str, n_buckets: int) -> DataFrame:
    """Add ``table``'s bucket column: ``repo_bucket`` for edges, ``v_bucket``
    for vertices. Same-key rows always share a bucket, so a per-bucket
    anti-join sees every possible match."""
    col, key = _LAYOUT[table][:2]
    return df.withColumn(col, F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int"))


def write_buckets(
    df: DataFrame,
    output_dir: str,
    table: str,
    files_per_bucket: int,
    overwrite: str,
    metrics: list[Column] | None = None,
) -> dict:
    """Write ``df`` (carrying ``table``'s bucket column) under
    ``output_dir/table``, partitioned by bucket, and return ``metrics``
    (named aggregate expressions) observed on the rows as they are written:
    table statistics taken by the write itself, not by a second scan.
    ``overwrite`` is the partitionOverwriteMode, always set here so a
    session default cannot change what is replaced: ``"static"`` replaces
    the whole table, ``"dynamic"`` only the buckets present in ``df``.

    The rows are distributed by a ``rebalance`` hint on (bucket, salt), so
    AQE sizes the write tasks, and with them the files, from the shuffled
    bytes: small partitions are coalesced, skewed ones split towards the
    advisory partition size. A fixed ``n_buckets * files_per_bucket``
    task count would write tens of tiny files for a small graph. The salt
    keeps a bucket from hashing to ONE shuffle partition, which at 100 TB
    scale would be a multi-TB task: it spreads each bucket over up to
    files_per_bucket partitions. sortWithinPartitions keeps a deterministic
    key-ordered layout for point-join locality (SURVEY.md 4.3). On a real
    cluster this is Iceberg overwritePartitions on bucket(key)."""
    col, _, salt_cols, sort_col = _LAYOUT[table]
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    (
        df.withColumn("_salt", F.pmod(F.xxhash64(*salt_cols), F.lit(files_per_bucket)))
        .hint("rebalance", col, "_salt")
        .drop("_salt")
        .sortWithinPartitions(col, sort_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", overwrite)
        .partitionBy(col)
        .parquet(os.path.join(output_dir, table))
    )
    return _observed(obs) if metrics else {}


def _observed(obs: Observation) -> dict:
    """``obs.get``, or ``{}`` when no task reported the metrics. Spark
    completes an observation whose plan ran no task (an input the optimizer
    proved empty, or one with no partitions) with an empty row, which
    ``Observation.get`` cannot convert; no task means no rows, so every
    count is 0."""
    return obs.get if obs._jo.getRow().length() else {}


def commit_bucket_manifests(
    rows: dict[int, int],
    output_dir: str,
    checkpoint_dir: str | None,
    t0: float,
) -> int:
    """Commit ``bucket_<b>.json`` (bucket, rows, t_ms) for every bucket of
    ``rows`` ({bucket: rows written}); t_ms is the time since ``t0``,
    shared by all. Returns the buckets' total rows.

    A dynamic overwrite only replaces the buckets present in the write, so
    a bucket that has no rows now but held data from an earlier run into
    the same ``output_dir`` would keep its stale files: its directory is
    removed BEFORE its manifest commits (a resumed run skips committed
    buckets)."""
    t_ms = int((time.time() - t0) * 1000)
    for b, n in sorted(rows.items()):
        if n == 0:
            shutil.rmtree(
                os.path.join(output_dir, "edges", f"repo_bucket={b}"),
                ignore_errors=True,
            )
        if checkpoint_dir:
            _commit(checkpoint_dir, f"bucket_{b}", {"bucket": b, "rows": n, "t_ms": t_ms})
    return sum(rows.values())


def write_edge_buckets(
    edges: DataFrame,
    buckets: list[int],
    output_dir: str,
    checkpoint_dir: str | None,
    files_per_bucket: int,
    t0: float,
) -> int:
    """ONE dynamic-overwrite write of ``edges``, every row of which hashes
    into ``buckets``, then the manifests of ``buckets`` from the per-bucket
    row counts observed on that write (one ``count_if`` per bucket).
    Returns the rows written."""
    counts = write_buckets(
        edges, output_dir, "edges", files_per_bucket, "dynamic",
        [F.count_if(F.col("repo_bucket") == b).alias(f"b{b}") for b in buckets],
    )
    return commit_bucket_manifests(
        {b: int(counts.get(f"b{b}", 0)) for b in buckets}, output_dir, checkpoint_dir, t0
    )


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
    # add_content adopts the bucketing recorded here (read_graph_meta)
    _commit(output_dir, _GRAPH_META,
            {"n_buckets": n_buckets, "files_per_bucket": files_per_bucket})

    edges = with_bucket(triples.dropDuplicates(EDGE_KEY), "edges", n_buckets)
    skipped = sorted(committed_buckets(checkpoint_dir))
    total_rows = 0
    for b in skipped:
        with open(_manifest_path(checkpoint_dir, f"bucket_{b}")) as f:
            total_rows += json.load(f)["rows"]
    pending = [b for b in range(n_buckets) if b not in skipped]
    # With every bucket committed (the vertex-only recovery after a crash
    # during the vertex write) the edge plan, extraction included, never
    # runs: a write of zero pending buckets would redo all of it to write
    # nothing.
    if pending:
        t0 = time.time()
        if skipped:
            # resume: committed buckets are filtered out BEFORE the write --
            # dynamic partition overwrite touches only pending directories
            edges = edges.filter(~F.col("repo_bucket").isin(skipped))
        # ONE write for every pending bucket: O(1) Spark jobs regardless of
        # n_buckets
        total_rows += write_edge_buckets(edges, pending, output_dir, checkpoint_dir,
                                         files_per_bucket, t0)

    from .pipeline import build_vertices

    # Vertices are derived from the PERSISTED edge table, not from this
    # run's triples: on a recovery re-run (e.g. the streaming-ingest
    # fallback replaying one batch after a crash mid-vertex-write) the
    # triples argument holds ONLY the replayed batch, and building vertices
    # from it would silently drop every earlier batch's vertices while
    # edges stay complete. The persisted table is always the union of all
    # committed buckets; the scan is column-pruned to the endpoint/type
    # columns, and reading it with the known schema skips schema inference.
    ss = spark or triples.sparkSession
    persisted = (
        ss.read.schema(edges.schema)
        .parquet(os.path.join(output_dir, "edges"))
        .drop("repo_bucket")
    )
    # name-hash bucketed (same n_buckets as edges) so add_content merges
    # vertices per affected bucket; static: the whole table is replaced
    n_vertices = write_buckets(
        with_bucket(build_vertices(persisted), "vertices", n_buckets),
        output_dir, "vertices", files_per_bucket, "static",
        [F.count(F.lit(1)).alias("rows")],
    ).get("rows", 0)
    if checkpoint_dir:
        _commit(checkpoint_dir, "vertices", {"rows": n_vertices})
    return {"edges": total_rows, "vertices": n_vertices, "skipped_buckets": skipped}
