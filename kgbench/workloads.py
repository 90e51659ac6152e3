"""The benchmark workloads: inputs, one timed pass, the traced pass
and the output check.

Each workload calls the engine's public functions only. A pass goes from
the generated parquet input to a complete, committed result on disk; the
check reads that result back, compares its row counts with the ones the
engine reported and scores it against labels the generator knows by
construction.

Traced pass: Spark is lazy, so each cumulative prefix of the pass is forced
with a ``noop`` write (eager calls are timed directly), and a layer's self
time is its prefix minus the previous prefix. The last prefix is the real
pass, so the self times add up to the traced pass time by construction.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.operators.dedup import (
    dedup_decisions,
    lsh_candidate_pairs,
    minhash_near_dups,
    signatures_with_collapse,
)
from textchunking_and_knowledgegraph_spark.operators.extract import doc_facts
from textchunking_and_knowledgegraph_spark.operators.linking import banded
from textchunking_and_knowledgegraph_spark.plans.add_content import add_content
from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
    read_decisions,
    write_dedup_store,
)
from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph
from textchunking_and_knowledgegraph_spark.plans.pipeline import (
    build_triples,
    prepared_source,
)
from textchunking_and_knowledgegraph_spark.sources.io import scan_source

from . import gen

# Input sizes at --scale 1: the full inputs of the timed passes and the
# input of the cold pass before them (NOTES.md, "Sizes", "Noise", "Memory").
KG_BUILD_DOCS, KG_WARM_DOCS = 20_000, 500
KG_ADD_BATCH_SHARE = 0.05  # add_content batch, as a share of the corpus
DEDUP_DOCS, DEDUP_WARM_DOCS = 5_000, 2_500
# The paper's quality bar for triples; dedup has its own (see NOTES.md).
MIN_TRIPLE_PR = 0.95
MIN_DEDUP_PR = 0.90
N_PERM, BANDS, MAX_BUCKET = 64, 16, 200  # write_dedup_store defaults


class CheckFailed(Exception):
    """A pass produced an output that does not match its labels."""


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pr(predicted: set, gold: set) -> tuple[float, float]:
    hit = len(predicted & gold)
    return (hit / len(predicted) if predicted else 0.0,
            hit / len(gold) if gold else 0.0)


class Tracer:
    """Times the spans of one traced pass. Each span runs under its own
    Spark job description, which is how the event log attributes task and
    SQL metrics back to it."""

    def __init__(self, spark: SparkSession, tag: str):
        self.spark, self.tag = spark, tag
        self.spans: dict[str, float] = {}

    def label(self, name: str) -> str:
        return f"kgbench:{self.tag}:{name}"

    def span(self, name: str, fn):
        sc = self.spark.sparkContext
        sc.setJobDescription(self.label(name))
        try:
            t0 = time.perf_counter()
            out = fn()
            self.spans[name] = time.perf_counter() - t0
        finally:
            sc.setJobDescription(None)
        return out


class Workload:
    name = ""
    min_pr = MIN_TRIPLE_PR
    docs = warm_docs = 0  # input sizes at --scale 1

    def __init__(self, work: str, seed: int, n_docs: int):
        self.work, self.seed, self.n_docs = work, seed, n_docs
        self.input_docs = 0
        self.input_bytes = 0
        self.precision = self.recall = 0.0
        self._n = 0

    def new_output(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n}")

    # -- subclasses -------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark: SparkSession, out: str):
        raise NotImplementedError

    def traced_pass(self, spark: SparkSession, out: str, tr: Tracer):
        raise NotImplementedError

    def check(self, spark: SparkSession, out: str, result) -> None:
        raise NotImplementedError

    # -- shared check helper ------------------------------------------------
    def _score(self, p: float, r: float) -> None:
        if min(p, r) < self.min_pr:
            raise CheckFailed(f"{self.name}: precision {p:.5f} / recall "
                              f"{r:.5f} below {self.min_pr}")
        self.precision, self.recall = p, r


def score_triples(edges: DataFrame, goldens: set) -> tuple[float, float]:
    """P/R over every predicate the goldens contain. Extras the engine emits
    under those predicates count against precision: they are real output."""
    preds = sorted({p for _, p, _ in goldens})
    rows = (edges.filter(F.col("pred").isin(preds))
            .select("subj", "pred", "obj").distinct().collect())
    return _pr({(r.subj, r.pred, r.obj) for r in rows}, goldens)


class KgBuild(Workload):
    """Full build: materialize_graph(build_triples(source)) into a fresh dir.

    The traced pass also times the incremental path on the graph it just
    built (restored by hard links, outside every span): add_content of a
    seeded batch that targets one or two small repos and re-sends ~10% of
    their documents. NOTES.md says why that is not a workload of its own."""

    name = "kg_build"
    docs, warm_docs = KG_BUILD_DOCS, KG_WARM_DOCS

    def generate(self) -> None:
        rows, self.goldens = gen.kg_corpus(self.n_docs, self.seed)
        batch, batch_gold, self.targets = gen.kg_add_batch(
            rows, max(40, int(self.n_docs * KG_ADD_BATCH_SHARE)), self.seed)
        self.merged_goldens = self.goldens | batch_gold
        self.src = os.path.join(self.work, "source")
        self.batch_src = os.path.join(self.work, "batch")
        self.input_bytes = gen.write_parquet(rows, self.src, 16, "source")
        self.input_docs = len(rows)
        gen.write_parquet(batch, self.batch_src, 4, "source")
        self.batch_docs = len(batch)

    def run_pass(self, spark, out):
        return materialize_graph(build_triples(spark, self.src), out,
                                 checkpoint_dir=os.path.join(out, "_manifest"))

    def traced_pass(self, spark, out, tr):
        src, batch = self.src, self.batch_src
        tr.span("scan", lambda: noop(scan_source(spark, src)))
        tr.span("normalize", lambda: noop(prepared_source(spark, src)))
        tr.span("doc_facts", lambda: noop(doc_facts(prepared_source(spark, src))))
        tr.span("triples", lambda: noop(build_triples(spark, src)))
        result = tr.span("pass", lambda: self.run_pass(spark, out))

        merged = out + "_add"
        # engine writers replace files and never modify them, so hard links
        # restore the built graph without copying bytes
        shutil.copytree(out, merged, copy_function=os.link)
        try:
            tr.span("add_triples", lambda: noop(build_triples(spark, batch)))
            added = tr.span("add", lambda: add_content(
                spark, merged, spark.read.parquet(batch),
                checkpoint_dir=os.path.join(merged, "_manifest")))
            if added["new_edges"] <= 0:
                raise CheckFailed("kg_build: the add_content batch added no edges")
            p, r = score_triples(spark.read.parquet(os.path.join(merged, "edges")),
                                 self.merged_goldens)
            if min(p, r) < self.min_pr:
                raise CheckFailed(f"kg_build: merged graph precision {p:.5f} / "
                                  f"recall {r:.5f} below {self.min_pr}")
        finally:
            shutil.rmtree(merged, ignore_errors=True)
        return dict(result, add=added)

    def check(self, spark, out, result):
        edges = spark.read.parquet(os.path.join(out, "edges"))
        n_edges = edges.count()
        n_vertices = spark.read.parquet(os.path.join(out, "vertices")).count()
        if (n_edges, n_vertices) != (result["edges"], result["vertices"]):
            raise CheckFailed(
                f"kg_build: {result['edges']} edges and {result['vertices']} vertices "
                f"reported, {n_edges} and {n_vertices} on disk")
        self._score(*score_triples(edges, self.goldens))


class CurateDedup(Workload):
    """write_dedup_store(strategy="minhash", threshold=0.7) over high-entropy
    docs with planted exact copies, near copies and hard negatives."""

    name = "curate_dedup"
    min_pr = MIN_DEDUP_PR
    docs, warm_docs = DEDUP_DOCS, DEDUP_WARM_DOCS

    def generate(self) -> None:
        rows, self.gold, self.family_stats = gen.dedup_corpus(self.n_docs, self.seed)
        self.src = os.path.join(self.work, "corpus")
        self.input_bytes = gen.write_parquet(rows, self.src, 8, "dedup")
        self.input_docs = len(rows)

    def _corpus(self, spark):
        return spark.read.parquet(self.src)

    def run_pass(self, spark, out):
        return write_dedup_store(spark, self._corpus(spark), out,
                                 strategy="minhash", threshold=gen.THRESHOLD)

    def traced_pass(self, spark, out, tr):
        th = gen.THRESHOLD

        def sigs():
            return signatures_with_collapse(self._corpus(spark), "id", "text", N_PERM)

        def candidates():
            bd = banded(sigs(), BANDS, N_PERM // BANDS).select("id", "band_id", "band_hash")
            return lsh_candidate_pairs(bd, MAX_BUCKET)

        def verified():
            return minhash_near_dups(self._corpus(spark), "id", "text", threshold=th,
                                     n_perm=N_PERM, bands=BANDS, max_bucket=MAX_BUCKET)

        tr.span("signatures", sigs)
        pairs = tr.span("candidates", lambda: _noop_keep(candidates()))
        ver = tr.span("verify", lambda: _noop_keep(verified()))
        tr.span("cc", lambda: noop(dedup_decisions(self._corpus(spark), verified(),
                                                   id_col="id")))
        result = tr.span("pass", lambda: self.run_pass(spark, out))
        # after the pass, so the counting jobs land in no layer's prefix
        return tr.span("counts", lambda: dict(
            result, candidate_pairs=pairs.count(), verified_pairs=ver.count()))

    def check(self, spark, out, result):
        dec = read_decisions(spark, out)
        n = dec.count()
        if (n, result["docs"]) != (self.input_docs, self.input_docs):
            raise CheckFailed(f"curate_dedup: {self.input_docs} input docs, "
                              f"{result['docs']} reported, {n} decisions on disk")
        rows = dec.filter(~F.col("keep")).select("keeper", "id").collect()
        self._score(*_pr({(r.keeper, r.id) for r in rows}, self.gold))


def _noop_keep(df: DataFrame) -> DataFrame:
    noop(df)
    return df


WORKLOADS = {w.name: w for w in (KgBuild, CurateDedup)}


def describe(w: Workload) -> dict:
    if isinstance(w, KgBuild):
        extra = {"add_batch_docs": w.batch_docs, "add_targets": w.targets}
    else:
        extra = w.family_stats
    return {"input_docs": w.input_docs, "input_mb": round(w.input_bytes / 1e6, 3),
            **extra}

