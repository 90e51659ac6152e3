"""Incremental corpus curation: dedup NEW documents against a persisted
store -- the ``--add-content`` analog for training-data curation. At 100 TB
the corpus grows in batches; recomputing dedup over everything per batch is
O(corpus) per ingest, while this flow is O(new batch) signature work plus
candidate joins against the (compact) signature store.

Store layout under ``<store>/`` (v2 -- batch-committed):
  dedup_decisions/batch=<bid>/  (id, keeper, keep)   every committed batch
  sigs/batch=<bid>/             (id, sig)            minhash strategy
  texts/batch=<bid>/            (id, text)           minhash + store_text
  exact_keeper/batch=<bid>/     (sha, keeper)        exact strategy
  emb_buckets/batch=<bid>/      (id, table_id, bucket)  embedding strategy
  embeddings/batch=<bid>/       (id, emb)            embedding + store_embeddings
  _dedup_params.json            strategy + parameters (validated on add)

Commit protocol (crash-safe, retry-idempotent): every table's batch is
written to a dot-prefixed staging dir (invisible to Spark's file listing)
and atomically renamed to ``batch=<bid>``; the DECISIONS rename happens
LAST and *is* the commit point -- the committed-batch set is exactly the
set of ``dedup_decisions/batch=*`` dirs, and every internal read of
sigs/texts/buckets filters to that set. A crash mid-add leaves only
orphaned side-table dirs that no reader ever sees; retrying the batch is
safe because ``add_*`` first anti-joins the incoming ids against the
committed decisions and skips already-curated documents (reported as
``already_curated``). Plain ``spark.read.parquet(<store>/dedup_decisions)``
keeps working for external consumers (``batch`` surfaces as a partition
column).

Semantics -- first-seen-wins, the standard streaming-curation contract.
The keeper rule: take connected components over the verified pairs that
touch the new batch, with every OLD endpoint replaced by its cluster's
keeper; a new document's keeper is the smallest old keeper in its
component, else the component's min id, else (in no pair) itself. So:
  * existing decisions are IMMUTABLE: a new document can join an existing
    cluster (keep=False) but never changes which old document is kept;
  * a new document near-dup of TWO existing clusters joins the one with the
    smaller keeper; the old clusters are NOT merged (a batch recompute
    would merge them -- an accepted, tested divergence of incremental
    curation);
  * new-new clusters elect their min id, exactly as the batch path does.

Scale shape of ``add_documents`` (minhash): signatures run over the NEW
batch only (Arrow UDF); candidate generation is an equi-join of the new
band keys against old+new band keys with the same oversized-bucket star cap
as the batch operator; the signature prefilter keeps Python off all but
near-threshold pairs; exact verification reads OLD text selectively -- a
join of the surviving candidate ids against the store's OWN texts table
(``store_text=True``, the default: the store is operationally
self-contained, no caller-supplied cumulative corpus needed). Callers that
cannot afford the store-side text copy build with ``store_text=False`` and
pass the CUMULATIVE prior corpus per add; a coverage guard raises if any
candidate endpoint lacks text rather than silently keeping a true
near-duplicate.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    dedup_decisions,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_dups,
    sig_prefiltered_verify,
    signatures_with_collapse,
)
from ..operators.linking import banded

_PARAMS = "_dedup_params.json"


def _write_params(store: str, params: dict) -> None:
    os.makedirs(store, exist_ok=True)
    tmp = os.path.join(store, f".{_PARAMS}.tmp")
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, os.path.join(store, _PARAMS))  # atomic publish


def read_params(store: str) -> dict:
    with open(os.path.join(store, _PARAMS)) as f:
        return json.load(f)


def _new_batch_id() -> str:
    return uuid.uuid4().hex[:12]


def committed_batches(store: str) -> list[str]:
    """Batch ids whose DECISIONS rename completed -- the commit point.
    A pre-v2 store (flat parquet files, no batch= dirs) is detected and
    rejected with a migration hint rather than read as 'no decisions'."""
    d = os.path.join(store, "dedup_decisions")
    if not os.path.isdir(d):
        return []
    bids = sorted(
        e[len("batch="):] for e in os.listdir(d) if e.startswith("batch=")
    )
    if not bids and any(e.endswith(".parquet") for e in os.listdir(d)):
        raise ValueError(
            f"{store} uses the pre-batch (v1) store layout (flat parquet "
            "under dedup_decisions/); rebuild it with write_dedup_store / "
            "--dedup to migrate to the batch-committed layout"
        )
    return bids


def _publish(df: DataFrame, store: str, table: str, batch_id: str) -> None:
    """Write ``df`` to a dot-prefixed staging dir (ignored by Spark's file
    listing) and atomically rename it into place. For every table except
    dedup_decisions the rename is provisional -- readers ignore batches
    with no committed decisions sibling; the decisions rename IS the
    commit."""
    tdir = os.path.join(store, table)
    os.makedirs(tdir, exist_ok=True)
    staging = os.path.join(tdir, f".staging_{batch_id}")
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)  # no partial staging dir
        raise
    os.rename(staging, os.path.join(tdir, f"batch={batch_id}"))


def _read_store_table(
    spark: SparkSession, store: str, table: str
) -> DataFrame | None:
    """Read a store table restricted to COMMITTED batches (side-table dirs
    orphaned by a crash between renames are never surfaced). Returns None
    when no committed batch carries the table."""
    paths = [
        os.path.join(store, table, f"batch={b}")
        for b in committed_batches(store)
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def read_decisions(spark: SparkSession, store: str) -> DataFrame:
    """Committed (id, keeper, keep) decisions across all batches."""
    d = _read_store_table(spark, store, "dedup_decisions")
    if d is None:
        raise FileNotFoundError(f"no committed decisions under {store}")
    return d.select("id", "keeper", "keep")


def _decision_stats(spark: SparkSession, store: str, batch_id: str) -> tuple[int, int]:
    """(n, kept) of one committed batch -- ONE aggregation pass over the
    read-back (the v1 layout ran two full .count() scans)."""
    d = spark.read.parquet(os.path.join(store, "dedup_decisions", f"batch={batch_id}"))
    row = d.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("kept"),
    ).first()
    return int(row.n), int(row.kept)


# every directory the store owns -- _clear_store must NEVER sweep anything
# else (an --output shared with a KG build holds chunks/vertices/edges too)
_STORE_TABLES = (
    "dedup_decisions", "sigs", "texts", "exact_keeper",
    "emb_buckets", "embeddings",
)


def _clear_store(store: str) -> None:
    """Overwrite semantics for the write_* builders: drop the store's OWN
    tables + params before building fresh. Deliberately restricted to the
    known table names -- a blanket subdirectory sweep would delete
    unrelated data when the caller points --output at a directory that
    also holds other outputs."""
    if os.path.isdir(store):
        for e in _STORE_TABLES:
            p = os.path.join(store, e)
            if os.path.isdir(p):
                shutil.rmtree(p)
        p = os.path.join(store, _PARAMS)
        if os.path.exists(p):
            os.remove(p)


def _exact_decisions(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(decisions [id, keeper, keep], keeper map [sha, keeper])."""
    d = exact_dedup(corpus, "id", "text")
    keepers = d.filter("keep").select(F.col("sha"), F.col("id").alias("keeper"))
    decisions = d.join(keepers, "sha").select("id", "keeper", "keep")
    return decisions, keepers


def write_dedup_store(
    spark: SparkSession,
    corpus: DataFrame,
    store: str,
    strategy: str = "minhash",
    threshold: float = 0.7,
    n_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 200,
    store_text: bool = True,
) -> dict:
    """Full dedup of ``corpus`` (id, text) + persist the incremental store.
    Returns counting stats. The decisions parquet is the curation output;
    the sigs / exact_keeper tables are what ``add_documents`` joins new
    batches against. ``store_text=True`` (default) also persists (id, text)
    so later ``add_documents`` calls verify candidates against the store's
    own texts -- no caller-supplied cumulative corpus."""
    _clear_store(store)
    bid = _new_batch_id()
    if strategy == "exact":
        decisions, keepers = _exact_decisions(corpus)
        _publish(keepers, store, "exact_keeper", bid)
    elif strategy == "minhash":
        # ONE signature pass (collapse-aware, checkpointed) serves both the
        # persisted store and the pair computation -- recomputing inside
        # minhash_near_dups would double the dominant UDF cost and hold two
        # checkpointed signature copies at peak
        sigs = signatures_with_collapse(corpus, "id", "text", n_perm)
        _publish(sigs.select("id", "sig"), store, "sigs", bid)
        if store_text:
            _publish(corpus.select("id", "text"), store, "texts", bid)
        pairs = minhash_near_dups(
            corpus, "id", "text", threshold=threshold, n_perm=n_perm,
            bands=bands, max_bucket=max_bucket, precomputed_sigs=sigs,
        )
        decisions = dedup_decisions(corpus, pairs, id_col="id")
    else:
        raise ValueError(f"unsupported incremental strategy {strategy!r}")
    _write_params(store, {
        "strategy": strategy, "threshold": threshold,
        "n_perm": n_perm, "bands": bands, "max_bucket": max_bucket,
        "store_text": bool(store_text and strategy == "minhash"),
    })
    _publish(decisions, store, "dedup_decisions", bid)  # the commit point
    n, kept = _decision_stats(spark, store, bid)
    return {"strategy": strategy, "docs": n, "kept": kept,
            "duplicates_dropped": n - kept, "store": store}


def _new_minhash_pairs(
    spark: SparkSession,
    store: str,
    new_corpus: DataFrame,
    old_texts: DataFrame,
    p: dict,
) -> tuple[DataFrame, DataFrame]:
    """(verified, new_sigs): verified near-dup pairs (id_a, id_b) touching
    the new batch -- new-new and new-old -- plus the new batch's
    checkpointed signature table so the caller publishes it without a
    second UDF pass. ``old_texts`` (id, text) is the selective-read source
    for exact verification: the store's own texts table by default, or the
    caller's cumulative prior corpus."""
    n_perm, bands = p["n_perm"], p["bands"]
    rows = n_perm // bands
    threshold, max_bucket = p["threshold"], p["max_bucket"]

    new_sigs = signatures_with_collapse(new_corpus, "id", "text", n_perm)
    old_sigs = _read_store_table(spark, store, "sigs").withColumn(
        "is_new", F.lit(False)
    )
    all_sigs = new_sigs.select("id", "sig").withColumn(
        "is_new", F.lit(True)
    ).unionByName(old_sigs)

    bd = banded(all_sigs, bands, rows).select("id", "is_new", "band_id", "band_hash")
    # same candidate machinery as the batch operator (ONE implementation,
    # operators/dedup.py), restricted to pairs touching the new batch
    pairs = lsh_candidate_pairs(bd, max_bucket, left_col="is_new").localCheckpoint(
        eager=True
    )
    texts = new_corpus.select("id", "text").unionByName(
        old_texts.select("id", "text")
    )
    _require_endpoint_payload(pairs, texts, "text", "store_text")

    # signature prefilter (JVM) + exact verify (operators/dedup.py shared
    # tail); old text enters only through the candidate-id join
    sig_text = all_sigs.select("id", "sig").join(texts, "id")
    verified = sig_prefiltered_verify(
        pairs, sig_text, n_perm, threshold
    ).select("id_a", "id_b")
    return verified, new_sigs


def _require_endpoint_payload(
    pairs: DataFrame, payload: DataFrame, noun: str, store_flag: str
) -> None:
    """Raise unless every candidate endpoint has a ``payload`` row (the
    text or embedding its verify joins in). Checked BEFORE that join, which
    would silently drop the pair and keep a true near-duplicate. Always
    true for a store that keeps its payload (it commits with the same batch
    as the rows that produced the candidate); with a caller-supplied corpus
    it fails loudly when an earlier batch was not passed."""
    cand_ids = pairs.select(F.col("id_a").alias("id")).unionByName(
        pairs.select(F.col("id_b").alias("id"))
    ).distinct()
    missing = cand_ids.join(payload.select("id"), "id", "left_anti")
    if missing.limit(1).count():
        sample = [r.id for r in missing.limit(5).collect()]
        raise ValueError(
            f"candidate endpoints without {noun}, e.g. {sample}. Build the "
            f"store with {store_flag}=True, or pass the cumulative prior "
            "corpus (all earlier batches) as old_corpus."
        )


def write_embedding_store(
    spark: SparkSession,
    corpus: DataFrame,
    store: str,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_tables: int = 2,
    max_bucket: int = 200,
    store_embeddings: bool = True,
) -> dict:
    """Embedding-cosine near-dup curation of ``corpus`` (id, embedding)
    with a persisted incremental store. SRP buckets are deterministic
    (fixed hyperplane seeds), so the persisted (id, table_id, bucket) rows
    stay joinable against any later batch bucketed with the same params.
    Candidates go through the SAME cap/star machinery as the text paths
    (lsh_candidate_pairs); verification is exact JVM cosine.
    ``store_embeddings=True`` (default) persists (id, emb) so later
    ``add_embeddings`` calls verify against the store itself."""
    from ..operators.dedup import cosine_expr, with_sign_buckets

    _clear_store(store)
    bid = _new_batch_id()
    base = corpus.select("id", F.col("embedding").alias("emb"))
    bucketed = with_sign_buckets(base, "emb", n_planes, n_tables).localCheckpoint(
        eager=True
    )
    _publish(bucketed.select("id", "table_id", "bucket"), store, "emb_buckets", bid)
    if store_embeddings:
        _publish(base, store, "embeddings", bid)
    bd = bucketed.select(
        "id", F.col("table_id").alias("band_id"), F.col("bucket").alias("band_hash")
    )
    pairs = lsh_candidate_pairs(bd, max_bucket)
    embs = base
    verified = (
        pairs.join(embs.select(F.col("id").alias("id_a"),
                               F.col("emb").alias("emb_a")), "id_a")
        .join(embs.select(F.col("id").alias("id_b"),
                          F.col("emb").alias("emb_b")), "id_b")
        .filter(cosine_expr(F.col("emb_a"), F.col("emb_b")) >= threshold)
        .select("id_a", "id_b")
    )
    decisions = dedup_decisions(base, verified, id_col="id")
    _write_params(store, {
        "strategy": "embedding", "threshold": threshold,
        "n_planes": n_planes, "n_tables": n_tables, "max_bucket": max_bucket,
        "store_embeddings": bool(store_embeddings),
    })
    _publish(decisions, store, "dedup_decisions", bid)  # the commit point
    n, kept = _decision_stats(spark, store, bid)
    return {"strategy": "embedding", "docs": n, "kept": kept,
            "duplicates_dropped": n - kept, "store": store}


def _split_already_curated(
    spark: SparkSession, store: str, new_corpus: DataFrame
) -> tuple[DataFrame, int]:
    """Retry-idempotency guard: drop incoming ids that already carry a
    committed decision (a replayed batch, or a crash-heal rerun). Returns
    (fresh rows, n already curated). The fresh side is checkpointed so the
    anti-join against the store does not re-execute per downstream
    consumer."""
    decided = read_decisions(spark, store).select("id")
    fresh = new_corpus.join(decided, "id", "left_anti").localCheckpoint(eager=True)
    # one decisions scan total: fresh is already materialized, so the
    # already-curated count is the batch size minus the survivors (a second
    # join against the ever-growing decisions table would cost store-size
    # work on every add)
    n_already = new_corpus.count() - fresh.count()
    return fresh, n_already


def add_embeddings(
    spark: SparkSession,
    store: str,
    new_corpus: DataFrame,
    old_corpus: DataFrame | None = None,
) -> dict:
    """Incrementally curate new (id, embedding) rows against an embedding
    store: bucket the NEW batch only (same deterministic hyperplanes),
    candidates from an equi-join of new buckets against old+new buckets,
    exact cosine verification with OLD embeddings read selectively from
    the store's own embeddings table (default) or a caller-supplied
    cumulative prior corpus, then the shared first-seen-wins cluster
    assignment. Crash-safe + retry-idempotent (see module docstring)."""
    from ..operators.dedup import cosine_expr, with_sign_buckets

    p = read_params(store)
    if p["strategy"] != "embedding":
        raise ValueError(f"store strategy is {p['strategy']!r}, not embedding")
    incoming = new_corpus.select("id", F.col("embedding").alias("emb"))
    new, n_already = _split_already_curated(spark, store, incoming)
    if new.isEmpty():
        return {"strategy": "embedding", "new_docs": 0, "new_kept": 0,
                "new_duplicates_dropped": 0, "already_curated": n_already,
                "store": store}
    if old_corpus is not None:
        old = old_corpus.select("id", F.col("embedding").alias("emb"))
    else:
        old = _read_store_table(spark, store, "embeddings")
        if old is None:
            raise ValueError(
                "store has no embeddings table (built with "
                "store_embeddings=False); pass the cumulative prior corpus "
                "as old_corpus"
            )

    new_bd = with_sign_buckets(
        new, "emb", p["n_planes"], p["n_tables"]
    ).select("id", "table_id", "bucket").localCheckpoint(eager=True)
    old_bd = _read_store_table(spark, store, "emb_buckets").withColumn(
        "is_new", F.lit(False)
    )
    bd = (
        new_bd.withColumn("is_new", F.lit(True))
        .unionByName(old_bd)
        .select(
            "id", "is_new",
            F.col("table_id").alias("band_id"),
            F.col("bucket").alias("band_hash"),
        )
    )
    pairs = lsh_candidate_pairs(bd, p["max_bucket"], left_col="is_new").localCheckpoint(
        eager=True
    )

    embs = new.unionByName(old)
    _require_endpoint_payload(pairs, embs, "embeddings", "store_embeddings")
    verified = (
        pairs.join(embs.select(F.col("id").alias("id_a"),
                               F.col("emb").alias("emb_a")), "id_a")
        .join(embs.select(F.col("id").alias("id_b"),
                          F.col("emb").alias("emb_b")), "id_b")
        .filter(cosine_expr(F.col("emb_a"), F.col("emb_b")) >= p["threshold"])
        .select("id_a", "id_b")
    )
    decisions_new = _first_seen_decisions(spark, store, new.select("id"), verified)
    bid = _new_batch_id()
    _publish(new_bd, store, "emb_buckets", bid)
    if p.get("store_embeddings"):
        _publish(new, store, "embeddings", bid)
    _publish(decisions_new, store, "dedup_decisions", bid)  # the commit point
    n, kept = _decision_stats(spark, store, bid)
    return {"strategy": "embedding", "new_docs": n, "new_kept": kept,
            "new_duplicates_dropped": n - kept,
            "already_curated": n_already, "store": store}


def _first_seen_decisions(
    spark: SparkSession,
    store: str,
    new_ids: DataFrame,
    verified: DataFrame,
) -> DataFrame:
    """The first-seen-wins keeper rule (module docstring) over the verified
    (id_a, id_b) pairs touching the new batch, with one read of the
    decisions table. ``new_ids`` excludes every decided id, so after the
    mapping the old ids in a component are keepers; the component label is
    its min id. Returns checkpointed (id, keeper, keep) for the new batch
    only."""
    from ..operators.canonicalize import connected_components

    edges = _keeper_edges(verified, read_decisions(spark, store))
    comp = connected_components(edges)  # (id, component); no pair -> no row
    old_keeper = (
        comp.join(new_ids, "id", "left_anti")
        .groupBy("component")
        .agg(F.min("id").alias("old_keeper"))
    )
    keeper = F.coalesce("old_keeper", "component", "id")
    return (
        new_ids.join(comp, "id", "left")
        .join(old_keeper, "component", "left")
        .select("id", keeper.alias("keeper"), (keeper == F.col("id")).alias("keep"))
        .localCheckpoint(eager=True)
    )


def _keeper_edges(verified: DataFrame, decisions: DataFrame) -> DataFrame:
    """(src, dst): the verified (id_a, id_b) pairs with every OLD endpoint
    replaced by its cluster's keeper (old decisions are immutable)."""
    def keepers(col: str) -> DataFrame:
        return decisions.select(
            F.col("id").alias(col), F.col("keeper").alias(f"{col}_keeper")
        )

    return (
        verified.join(keepers("id_a"), "id_a", "left")
        .join(keepers("id_b"), "id_b", "left")
        .select(
            F.coalesce("id_a_keeper", "id_a").alias("src"),
            F.coalesce("id_b_keeper", "id_b").alias("dst"),
        )
    )


def add_documents(
    spark: SparkSession,
    store: str,
    new_corpus: DataFrame,
    old_corpus: DataFrame | None = None,
) -> dict:
    """Incrementally curate ``new_corpus`` (id, text) against the store.
    Publishes the new decisions (and new signatures / sha keepers / texts)
    as one committed batch and returns stats. With a ``store_text`` store
    (the default build) no ``old_corpus`` is needed -- candidate
    verification reads old text selectively from the store's own texts
    table; passing ``old_corpus`` overrides that (the store_text=False
    operating mode). Crash-safe + retry-idempotent (module docstring)."""
    p = read_params(store)
    new_corpus, n_already = _split_already_curated(spark, store, new_corpus)
    if new_corpus.isEmpty():
        return {"strategy": p["strategy"], "new_docs": 0, "new_kept": 0,
                "new_duplicates_dropped": 0, "already_curated": n_already,
                "store": store}
    bid = _new_batch_id()

    if p["strategy"] == "exact":
        new = new_corpus.select(
            "id", F.sha2(F.coalesce("text", F.lit("")), 256).alias("sha")
        ).localCheckpoint(eager=True)
        old_map = _read_store_table(spark, store, "exact_keeper")
        hit = new.join(old_map, "sha").select(
            "id", "keeper", F.lit(False).alias("keep")
        )
        miss = new.join(old_map, "sha", "left_anti")
        miss_groups = (
            miss.groupBy("sha").agg(F.min("id").alias("keeper"))
            .localCheckpoint(eager=True)
        )
        miss_dec = miss.join(miss_groups, "sha").select(
            "id", "keeper", (F.col("id") == F.col("keeper")).alias("keep")
        )
        decisions_new = hit.unionByName(miss_dec).localCheckpoint(eager=True)
        _publish(miss_groups.select("sha", "keeper"), store, "exact_keeper", bid)
    elif p["strategy"] == "minhash":
        if old_corpus is not None:
            old_texts = old_corpus.select("id", "text")
        else:
            old_texts = _read_store_table(spark, store, "texts")
            if old_texts is None:
                raise ValueError(
                    "store has no texts table (built with store_text=False); "
                    "pass the cumulative prior corpus as old_corpus for "
                    "selective candidate verification"
                )
        verified, new_sigs = _new_minhash_pairs(spark, store, new_corpus, old_texts, p)
        decisions_new = _first_seen_decisions(
            spark, store, new_corpus.select("id"), verified
        )
        _publish(new_sigs.select("id", "sig"), store, "sigs", bid)
        if p.get("store_text"):
            _publish(new_corpus.select("id", "text"), store, "texts", bid)
    else:
        raise ValueError(f"unsupported incremental strategy {p['strategy']!r}")

    _publish(decisions_new, store, "dedup_decisions", bid)  # the commit point
    n, kept = _decision_stats(spark, store, bid)
    return {
        "strategy": p["strategy"],
        "new_docs": n,
        "new_kept": kept,
        "new_duplicates_dropped": n - kept,
        "already_curated": n_already,
        "store": store,
    }
