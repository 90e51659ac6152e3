"""Checkpoint-based resume (north rule): materialize_graph skips the buckets
whose manifests are committed, rewrites the rest, and ends with the output
of an uninterrupted run.

The resume test builds a partial checkpoint by hand (half the buckets'
manifests and directories removed). No real crash produces that state:
every bucket manifest is committed together after the single edge write,
so the real crash windows are the two in the ``materialize.py`` docstring
(a kill during the edge write redoes it; a kill after it rebuilds only the
vertices)."""

import json
import os
import shutil
import tempfile
import threading

from textchunking_and_knowledgegraph_spark.plans import materialize
from textchunking_and_knowledgegraph_spark.plans.materialize import (
    committed_buckets,
    materialize_graph,
)
from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df


def _edge_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "edges"))
    return {tuple(r) for r in df.select("subj", "pred", "obj", "sha").collect()}


def test_resume_after_partial_failure(spark):
    src, _ = corpus_df(spark)
    triples = build_triples(spark, src)

    base = tempfile.mkdtemp(prefix="tckg_resume_")
    full_out = os.path.join(base, "full")
    part_out = os.path.join(base, "partial")
    ckpt = os.path.join(base, "ckpt")
    try:
        stats_full = materialize_graph(triples, full_out, checkpoint_dir=None, spark=spark)
        want = _edge_set(spark, full_out)

        # run 1 with checkpointing -> then remove the last half of the
        # buckets (data AND manifests) by hand
        stats1 = materialize_graph(triples, part_out, checkpoint_dir=ckpt, spark=spark)
        assert stats1["skipped_buckets"] == []
        done = sorted(committed_buckets(ckpt))
        assert len(done) == 16
        for b in done[8:]:
            os.remove(os.path.join(ckpt, f"bucket_{b}.json"))
            shutil.rmtree(os.path.join(part_out, "edges", f"repo_bucket={b}"),
                          ignore_errors=True)

        # resume: only the 8 lost buckets are rewritten
        stats2 = materialize_graph(triples, part_out, checkpoint_dir=ckpt, spark=spark)
        assert stats2["skipped_buckets"] == done[:8]
        assert stats2["edges"] == stats_full["edges"]
        assert _edge_set(spark, part_out) == want

        # manifests carry per-partition lineage/metrics
        with open(os.path.join(ckpt, f"bucket_{done[0]}.json")) as f:
            m = json.load(f)
        assert set(m) == {"bucket", "rows", "t_ms"}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _vertex_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "vertices"))
    return {tuple(r) for r in df.select("name", "type").collect()}


def test_rerun_into_same_dir_drops_stale_buckets(spark):
    """A re-materialize over a SHRUNK corpus must not leave stale edges or
    vertices in buckets the new data no longer hashes into: the result
    equals a fresh build. The one-document case runs under a session-level
    partitionOverwriteMode=dynamic default, which a write that does not set
    its own mode would inherit and keep every old vertex bucket."""
    src, _ = corpus_df(spark)
    triples = build_triples(spark, src)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    base = tempfile.mkdtemp(prefix="tckg_stale_")
    try:
        for i, (shrink, session_mode) in enumerate([
            ("repo = 'org/repo1'", prev_mode),
            ("path = 'svc/main_3.go'", "dynamic"),
        ]):
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", session_mode)
            out = os.path.join(base, f"g{i}")
            fresh = os.path.join(base, f"fresh{i}")
            materialize_graph(triples, out, spark=spark)
            shrunk = triples.filter(shrink)
            materialize_graph(shrunk, out, spark=spark)
            materialize_graph(shrunk, fresh, spark=spark)
            assert _edge_set(spark, out) == _edge_set(spark, fresh), shrink
            assert _vertex_set(spark, out) == _vertex_set(spark, fresh), shrink
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        shutil.rmtree(base, ignore_errors=True)


def test_counts_are_the_rows_on_disk(spark):
    """The counts materialize_graph reports are observed on its writes, not
    scanned afterwards: the per-bucket manifest rows sum to the edge rows on
    disk, each manifest equals its bucket's rows, and the reported vertex
    total equals the vertex rows on disk."""
    src, _ = corpus_df(spark)
    base = tempfile.mkdtemp(prefix="tckg_counts_")
    out, ckpt = os.path.join(base, "g"), os.path.join(base, "ckpt")
    try:
        stats = materialize_graph(build_triples(spark, src), out,
                                  checkpoint_dir=ckpt, spark=spark)
        edges = spark.read.parquet(os.path.join(out, "edges"))
        on_disk = {r["repo_bucket"]: r["count"]
                   for r in edges.groupBy("repo_bucket").count().collect()}
        manifests = {}
        for b in committed_buckets(ckpt):
            with open(os.path.join(ckpt, f"bucket_{b}.json")) as f:
                manifests[b] = json.load(f)["rows"]
        assert sorted(manifests) == list(range(16))
        assert {b: n for b, n in manifests.items() if n} == on_disk
        assert sum(manifests.values()) == stats["edges"] == edges.count() > 0
        n_vertices = spark.read.parquet(os.path.join(out, "vertices")).count()
        assert stats["vertices"] == n_vertices > 0
        with open(os.path.join(ckpt, "vertices.json")) as f:
            assert json.load(f)["rows"] == n_vertices
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_emptied_bucket_is_removed_before_its_manifest(spark, monkeypatch):
    """A bucket that holds rows from an earlier run into the same output but
    none now is deleted BEFORE its 0-row manifest commits: a crash between
    the two must not leave a committed bucket with stale files, which a
    resumed run would skip."""
    src, _ = corpus_df(spark)
    triples = build_triples(spark, src)
    base = tempfile.mkdtemp(prefix="tckg_emptied_")
    out = os.path.join(base, "g")
    real_commit = materialize._commit
    seen = {}

    def commit(checkpoint_dir, name, payload):
        if name.startswith("bucket_"):
            b = payload["bucket"]
            seen[b] = (payload["rows"], os.path.isdir(
                os.path.join(out, "edges", f"repo_bucket={b}")))
        real_commit(checkpoint_dir, name, payload)

    try:
        materialize_graph(triples, out, spark=spark)
        before = {int(d.split("=")[1]) for d in os.listdir(os.path.join(out, "edges"))
                  if d.startswith("repo_bucket=")}
        monkeypatch.setattr(materialize, "_commit", commit)
        materialize_graph(triples.filter("repo = 'org/repo1'"), out,
                          checkpoint_dir=os.path.join(base, "ckpt"), spark=spark)
        emptied = {b for b, (rows, _) in seen.items() if rows == 0} & before
        assert emptied, "the shrunk corpus must empty some earlier bucket"
        for b in emptied:
            assert seen[b] == (0, False), b
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_empty_triples(spark):
    """An empty input writes no data files and reports zero counts; the
    observed metrics of a write over no rows still arrive, so the call
    returns instead of waiting on them."""
    src, _ = corpus_df(spark)
    triples = build_triples(spark, src).limit(0)
    base = tempfile.mkdtemp(prefix="tckg_empty_")
    out = os.path.join(base, "g")
    result = {}

    def run():
        result["stats"] = materialize_graph(
            triples, out, checkpoint_dir=os.path.join(base, "ckpt"), spark=spark)

    try:
        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), "materialize_graph hung on an empty input"
        stats = result["stats"]
        assert (stats["edges"], stats["vertices"]) == (0, 0)
        assert not [f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_materialize_job_count(spark):
    """materialize_graph(build_triples(...)) runs one edge write and one
    vertex write, each with its own shuffles, and nothing else: no cache
    build, no manifest aggregation, no re-count, no schema inference. The
    bound catches any of those coming back (it ran 15 jobs with them)."""
    src, _ = corpus_df(spark)
    base = tempfile.mkdtemp(prefix="tckg_jobs_")
    sc = spark.sparkContext
    group = "materialize_job_count"
    try:
        sc.setJobGroup(group, group)
        try:
            materialize_graph(build_triples(spark, src), os.path.join(base, "g"),
                              checkpoint_dir=os.path.join(base, "ckpt"), spark=spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 8, len(jobs)
    finally:
        shutil.rmtree(base, ignore_errors=True)
