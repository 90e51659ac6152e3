"""Incremental add-content (`AddContent/Update_Content.py:24-59` analog):
appending a second batch to a persisted graph yields exactly the same edge
and vertex sets as building everything in one shot, and touches only the
buckets the new batch hashes into."""

import hashlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.plans.add_content import add_content
from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph
from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df


def _edge_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "edges"))
    return {tuple(r) for r in df.select("subj", "pred", "obj", "sha").collect()}


def _vertex_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "vertices"))
    return {tuple(r) for r in df.select("name", "type").collect()}


def test_add_content_equals_one_shot(spark):
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    assert first.count() > 0 and second.count() > 0

    base = tempfile.mkdtemp(prefix="tckg_addc_")
    full_out = os.path.join(base, "full")
    inc_out = os.path.join(base, "inc")
    try:
        materialize_graph(build_triples(spark, src), full_out, spark=spark)
        materialize_graph(build_triples(spark, first), inc_out, spark=spark)
        stats = add_content(spark, inc_out, second)

        assert stats["new_edges"] > 0
        assert _edge_set(spark, inc_out) == _edge_set(spark, full_out)
        assert _vertex_set(spark, inc_out) == _vertex_set(spark, full_out)
        # incremental run must not touch buckets the new batch doesn't hash to
        n_buckets_touched = len(stats["affected_buckets"])
        assert 0 < n_buckets_touched <= 16
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_add_content_idempotent(spark):
    """Re-adding already-present content inserts nothing (MERGE semantics)."""
    src, _ = corpus_df(spark)
    base = tempfile.mkdtemp(prefix="tckg_addc_idem_")
    out = os.path.join(base, "g")
    try:
        materialize_graph(build_triples(spark, src), out, spark=spark)
        before = _edge_set(spark, out)
        stats = add_content(spark, out, src)
        assert stats["new_edges"] == 0
        assert _edge_set(spark, out) == before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _vertex_bucket_files(out_dir):
    """{v_bucket dir -> sorted part-file names + sizes} snapshot."""
    vdir = os.path.join(out_dir, "vertices")
    snap = {}
    for d in os.listdir(vdir):
        if d.startswith("v_bucket="):
            p = os.path.join(vdir, d)
            snap[d] = sorted(
                (f, os.path.getsize(os.path.join(p, f)))
                for f in os.listdir(p) if f.endswith(".parquet")
            )
    return snap


def test_add_content_rewrites_only_affected_vertex_buckets(spark):
    """The vertex merge must be bucket-incremental like the edge side:
    buckets the new batch's vertex names don't hash into are not
    rewritten (round-2 perf-weak: the whole vertex table was rewritten
    per increment)."""
    src, _ = corpus_df(spark)
    # a ONE-document increment: its handful of vertex names hash into a
    # strict subset of the 16 buckets (a half-corpus batch touches all 16)
    one = "svc/main_3.go"
    first, second = src.filter(F.col("path") != one), src.filter(F.col("path") == one)
    assert second.count() == 1
    base = tempfile.mkdtemp(prefix="tckg_addc_vb_")
    out = os.path.join(base, "g")
    try:
        materialize_graph(build_triples(spark, first), out, spark=spark)
        before = _vertex_bucket_files(out)
        assert len(before) > 1  # bucketed layout on disk
        add_content(spark, out, second)
        after = _vertex_bucket_files(out)

        # affected = buckets of the increment's vertex names
        t2 = build_triples(spark, second)
        second_v = t2.select(F.col("subj").alias("name")).union(
            t2.select(F.col("obj").alias("name"))).distinct()
        affected = {
            f"v_bucket={r.b}" for r in second_v.select(
                F.pmod(F.xxhash64("name"), F.lit(16)).cast("int").alias("b")
            ).distinct().collect()
        }
        untouched = set(before) - affected
        assert untouched, "fixture degenerate: every bucket affected"
        for d in untouched:
            assert after[d] == before[d], f"unaffected {d} was rewritten"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_crash_window_vertex_recovery(spark):
    """ADVICE r2 (medium): a crash mid-vertex-write used to let the
    streaming fallback rebuild vertices/ from ONLY the replayed batch,
    silently dropping earlier batches' vertices. materialize now derives
    vertices from the persisted edge table, so replaying one batch with
    the manifest checkpoint restores the complete vertex set."""
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    base = tempfile.mkdtemp(prefix="tckg_addc_crash_")
    out = os.path.join(base, "g")
    ck = os.path.join(base, "manifest")
    try:
        materialize_graph(build_triples(spark, first), out,
                          checkpoint_dir=ck, spark=spark)
        add_content(spark, out, second, checkpoint_dir=ck)
        expected_v = _vertex_set(spark, out)
        expected_e = _edge_set(spark, out)
        edge_files = _file_digests(os.path.join(out, "edges"))

        # crash window: vertex table gone/partial, _SUCCESS missing ->
        # the ingest fallback re-runs materialize with ONLY the replayed
        # batch against the same manifest checkpoint. Every bucket is
        # committed, so the edge write is skipped: the edge files stay
        # byte-for-byte as they were
        shutil.rmtree(os.path.join(out, "vertices"))
        stats = materialize_graph(build_triples(spark, second), out,
                                  checkpoint_dir=ck, spark=spark)

        assert stats["skipped_buckets"] == list(range(16))
        assert _vertex_set(spark, out) == expected_v
        assert _edge_set(spark, out) == expected_e
        assert _file_digests(os.path.join(out, "edges")) == edge_files
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _file_digests(root):
    """{relative path -> sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_add_content_refuses_legacy_layout(spark):
    """A graph written before the recorded, bucketed layout -- no
    _graph_meta.json, or a flat vertex table without v_bucket -- is refused
    with a ValueError that names the graph and says to rebuild it, raised
    before the edge rewrite so the edge files stay byte-for-byte as they
    were."""
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    base = tempfile.mkdtemp(prefix="tckg_addc_legacy_")
    out = os.path.join(base, "g")
    vdir = os.path.join(out, "vertices")
    meta = os.path.join(out, "_graph_meta.json")
    try:
        materialize_graph(build_triples(spark, first), out, spark=spark)
        edges_before = _file_digests(os.path.join(out, "edges"))

        os.rename(meta, meta + ".bak")
        with pytest.raises(ValueError, match="_graph_meta.json") as e:
            add_content(spark, out, second)
        assert out in str(e.value) and "materialize_graph" in str(e.value)
        assert _file_digests(os.path.join(out, "edges")) == edges_before
        os.rename(meta + ".bak", meta)

        # vertices/ as the pre-bucketed version wrote it: flat, no v_bucket
        legacy = spark.read.parquet(vdir).drop("v_bucket").localCheckpoint(True)
        shutil.rmtree(vdir)
        legacy.write.parquet(vdir)
        with pytest.raises(ValueError, match="flat vertex table") as e:
            add_content(spark, out, second)
        assert out in str(e.value) and "materialize_graph" in str(e.value)
        assert _file_digests(os.path.join(out, "edges")) == edges_before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_add_content_adopts_persisted_bucketing(spark):
    """A graph written with n_buckets=8 is updated with 8 buckets, not the
    materialize_graph default of 16: add_content takes its bucketing from
    the graph's metadata."""
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    base = tempfile.mkdtemp(prefix="tckg_addc_meta_")
    out = os.path.join(base, "g")
    full_out = os.path.join(base, "full")
    try:
        materialize_graph(build_triples(spark, src.filter(half == 0)), out,
                          spark=spark, n_buckets=8)
        stats = add_content(spark, out, src.filter(half == 1))
        assert stats["new_edges"] > 0
        assert max(stats["affected_buckets"]) < 8  # adopted the stored 8
        materialize_graph(build_triples(spark, src), full_out, spark=spark,
                          n_buckets=8)
        assert _edge_set(spark, out) == _edge_set(spark, full_out)
    finally:
        shutil.rmtree(base, ignore_errors=True)
