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
        assert {"bucket", "rows", "sha_count", "docs", "t_ms"} <= set(m)
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
