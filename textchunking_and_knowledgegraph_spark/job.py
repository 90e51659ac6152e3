"""spark-submit entrypoint: build the KG from a source table.

Usage (cluster):
    spark-submit --py-files tckg.zip -m textchunking_and_knowledgegraph_spark.job \
        --source <iceberg-table-or-parquet-path> --fmt iceberg \
        --output /warehouse/kg --checkpoint /warehouse/kg/_manifest

Locally (sandbox):
    python -m textchunking_and_knowledgegraph_spark.job \
        --source /root/testdata/sf0.001/documents.parquet --docs-table \
        --output /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F

from .operators.chunker import check_overlap
from .plans.pipeline import PipelineConfig, build_triples
from .session import build_session
from .sources.io import SOURCE_SCHEMA


def docs_as_source(spark, path: str):
    """Adapt the driver's documents table (doc_id, text, lang, source,
    n_chars) to the canonical source shape (repo, path, commit, lang,
    content)."""
    docs = spark.read.parquet(path)
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lpad(F.lower(F.hex(F.xxhash64("doc_id"))), 40, "0").alias("commit"),
        F.lit("text").alias("lang"),
        F.col("text").alias("content"),
    )


def _doc_identity():
    """THE curation document-identity expression (repo:path@commit) -- the
    same identity the KG uses. One definition: the decisions ids and every
    join back against them (e.g. the keep-only rewrite) must agree."""
    return F.concat_ws(
        "@", F.concat_ws(":", F.col("repo"), F.col("path")), F.col("commit")
    )


def _curation_corpus(source):
    """(id, text) curation projection over the canonical source shape."""
    return source.select(
        _doc_identity().alias("id"), F.col("content").alias("text")
    )


def run_dedup(
    spark,
    source,
    output: str,
    strategy: str = "minhash",
    threshold: float = 0.7,
    write_deduped: bool = False,
) -> dict:
    """Corpus-curation flow: source table -> per-document (id, keeper, keep)
    decisions -> parquet. Pair strategies are the bucketed scale paths
    (never all-pairs): exact = sha groupBy, minhash = banded LSH + verify,
    simhash = banded hamming; near-dup pairs collapse to clusters via
    connected components (operators/canonicalize.py), and each cluster
    keeps its min id. exact/minhash also persist the incremental store
    (plans/incremental_dedup.py) so later batches curate in O(new)."""
    from .operators.dedup import dedup_decisions, simhash_near_dups
    from .plans.incremental_dedup import write_dedup_store

    corpus = _curation_corpus(source)
    if strategy in ("exact", "minhash"):
        stats = write_dedup_store(
            spark, corpus, output, strategy=strategy, threshold=threshold
        )
        stats["output"] = f"{output}/dedup_decisions"
        stats.pop("store", None)
        decisions = spark.read.parquet(f"{output}/dedup_decisions")
    else:
        pairs = simhash_near_dups(corpus, "id", "text")
        decisions = dedup_decisions(corpus, pairs, id_col="id")
        decisions.write.mode("overwrite").parquet(f"{output}/dedup_decisions")
        decisions = spark.read.parquet(f"{output}/dedup_decisions")
        n_docs = decisions.count()
        n_keep = decisions.filter("keep").count()
        stats = {
            "strategy": strategy,
            "docs": n_docs,
            "kept": n_keep,
            "duplicates_dropped": n_docs - n_keep,
            "output": f"{output}/dedup_decisions",
        }
    if write_deduped:
        keep_ids = decisions.filter("keep").select("id")
        deduped = source.join(
            keep_ids, _doc_identity() == F.col("id"), "left_semi"
        )
        deduped.write.mode("overwrite").parquet(f"{output}/deduped")
        stats["deduped"] = f"{output}/deduped"
    return stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True, help="source table path / iceberg name")
    ap.add_argument("--fmt", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--docs-table", action="store_true",
                    help="input is the driver documents table, adapt its schema")
    ap.add_argument("--output", default=None, help="output dir/namespace for vertex+edge tables")
    ap.add_argument("--checkpoint", default=None, help="commit-manifest dir for resume")
    ap.add_argument("--master", default=None)
    ap.add_argument("--overlap", type=int, default=0)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--canonicalize", action="store_true")
    ap.add_argument("--dictionary", default=None,
                    help="entity dictionary (csv with header incl. 'entity' "
                         "column, or parquet) -> enables MinHash-LSH linking")
    ap.add_argument("--add-content", action="store_true",
                    help="incremental mode (`AddContent/Update_Content.py:24-59`): "
                         "MERGE the source into the EXISTING graph at --output, "
                         "rewriting only affected repo buckets")
    ap.add_argument("--dedup", default=None,
                    choices=["exact", "minhash", "simhash"],
                    help="training-data curation mode: compute per-document "
                         "keep/drop decisions over the source (exact sha "
                         "groups, MinHash-LSH near-dups, or SimHash) and "
                         "write <output>/dedup_decisions; no KG build")
    ap.add_argument("--dedup-threshold", type=float, default=None,
                    help="minhash Jaccard threshold, default 0.7 (ignored by "
                         "exact/simhash; with --add-content the STORE's "
                         "threshold is authoritative -- passing a different "
                         "value is an error, not a silent no-op)")
    ap.add_argument("--write-deduped", action="store_true",
                    help="with --dedup: also write the keep=true source rows "
                         "to <output>/deduped")
    ap.add_argument("--old-source", default=None,
                    help="with --dedup --add-content (minhash): OPTIONAL "
                         "override of the store's own texts table -- the "
                         "CUMULATIVE prior corpus (all earlier batches), for "
                         "stores built with store_text=False; candidate "
                         "verification reads old text selectively by id join "
                         "and a coverage guard fails loudly if any earlier "
                         "batch is missing. Stores built by this CLI are "
                         "self-contained (store_text=True): omit it.")
    args = ap.parse_args(argv)
    try:
        check_overlap(args.overlap)
    except ValueError as e:
        ap.error(f"--overlap: {e}")

    spark = build_session(app_name="tckg-job", master=args.master)
    dictionary = None
    if args.dictionary:
        if args.dictionary.endswith(".csv"):
            dictionary = spark.read.csv(args.dictionary, header=True)
        else:
            dictionary = spark.read.parquet(args.dictionary)
    cfg = PipelineConfig(
        overlap=args.overlap,
        salt_partitions=args.salt_partitions,
        canonicalize=args.canonicalize,
        link_entities=dictionary is not None,
        dictionary=dictionary,
    )

    if args.docs_table:
        source = docs_as_source(spark, args.source)
    elif args.fmt == "iceberg":
        source = args.source
    else:
        source = spark.read.schema(SOURCE_SCHEMA).parquet(args.source)

    t0 = time.time()

    if args.dedup:
        if not args.output:
            ap.error("--dedup requires --output (decisions directory)")
        # an iceberg --source reaches here as a table NAME (the KG path
        # resolves it inside prepared_source); curation needs the DataFrame
        src_df = spark.read.table(source) if isinstance(source, str) else source
        if args.add_content:
            if args.dedup == "simhash":
                ap.error("--dedup simhash has no incremental store; use "
                         "exact or minhash for --add-content")
            if args.write_deduped:
                ap.error("--write-deduped is a full-run output; rerun "
                         "--dedup without --add-content to rewrite")
            from .plans.incremental_dedup import add_documents, read_params

            try:
                stored = read_params(args.output)
            except FileNotFoundError:
                ap.error(f"{args.output} is not an incremental dedup store "
                         "(no _dedup_params.json); run --dedup without "
                         "--add-content first")
            if stored["strategy"] != args.dedup:
                ap.error(f"store at {args.output} was built with "
                         f"--dedup {stored['strategy']}; requested "
                         f"{args.dedup} (strategy is fixed at store build)")
            if (args.dedup_threshold is not None
                    and args.dedup_threshold != stored.get("threshold")):
                ap.error(f"--dedup-threshold {args.dedup_threshold} conflicts "
                         f"with the store's threshold "
                         f"{stored.get('threshold')}; incremental adds always "
                         "use the stored parameters (rebuild the store to "
                         "change them)")
            old = None
            if args.old_source:
                if args.docs_table:
                    old_src = docs_as_source(spark, args.old_source)
                elif args.fmt == "iceberg":
                    old_src = spark.read.table(args.old_source)
                else:
                    old_src = spark.read.schema(SOURCE_SCHEMA).parquet(
                        args.old_source
                    )
                old = _curation_corpus(old_src)
            stats = add_documents(
                spark, args.output, _curation_corpus(src_df), old_corpus=old
            )
        else:
            stats = run_dedup(
                spark, src_df, args.output,
                strategy=args.dedup,
                threshold=(0.7 if args.dedup_threshold is None
                           else args.dedup_threshold),
                write_deduped=args.write_deduped,
            )
        stats["seconds"] = round(time.time() - t0, 2)
        print(json.dumps(stats))
        return 0

    if args.add_content:
        if not args.output:
            ap.error("--add-content requires --output (the existing graph)")
        from .plans.add_content import add_content

        stats = add_content(
            spark, args.output, source, checkpoint_dir=args.checkpoint, cfg=cfg
        )
        dt = time.time() - t0
        print(json.dumps({
            "new_edges": stats["new_edges"],
            "affected_buckets": stats["affected_buckets"],
            "seconds": round(dt, 2),
            "output": args.output,
        }))
        return 0

    triples = build_triples(spark, source, cfg)

    if args.output:
        from .plans.materialize import materialize_graph

        stats = materialize_graph(
            triples, args.output, checkpoint_dir=args.checkpoint, spark=spark
        )
        n_triples = stats["edges"]
    else:
        n_triples = triples.count()

    dt = time.time() - t0
    print(json.dumps({
        "triples": n_triples,
        "seconds": round(dt, 2),
        "triples_per_sec": round(n_triples / dt, 1) if dt > 0 else None,
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
