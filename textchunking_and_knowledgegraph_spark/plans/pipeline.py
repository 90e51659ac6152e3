"""End-to-end KG-construction plan (the flagship dataflow).

    source (repo, path, commit, lang, content)
      -> scan (+sha256 invariant, +doc_id, lang filter pushed to files)
      -> normalize (column expressions, codegen)
      -> salted repartition (skew control; compute skew, not join skew)
      -> doc facts (mapInPandas, Arrow: one pass per document returns its
         chunk spans + code/SVO content triples)
      -> triple assembly (column algebra: structural + content triples)
      -> MERGE dedup
      -> (optional) entity linking (MinHash-LSH) + canonicalization (CC)
      -> vertex/edge tables

Replaces the reference lifecycle `UserImplementation/UserCommand.py:25-95`
(interactive, per-file, LLM-in-the-loop) with a declarative Catalyst plan;
the driver<->executor boundary sits at each shuffle (salt repartition,
triple dedup, LSH bucket exchange, CC iterations, final write).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import normalize_markdown
from ..operators.chunker import chunk_documents
from ..operators.extract import doc_facts, triples_from_facts
from ..sources.io import estimate_input_splits, salted_repartition, scan_source


@dataclass
class PipelineConfig:
    overlap: int = 0
    salt_partitions: int | None = None  # None -> leave to AQE/input splits
    salt_buckets: int = 16
    normalize_langs: tuple[str, ...] = ("markdown", "text")
    link_entities: bool = False
    canonicalize: bool = False
    dictionary: DataFrame | None = None  # entity dictionary for J1/J2 linking


def prepared_source(spark: SparkSession, source, cfg: PipelineConfig | None = None) -> DataFrame:
    """Scan + sha + doc_id + deterministic normalization (markdown/text only;
    code content is never rewritten -- sha is raw-content either way)."""
    cfg = cfg or PipelineConfig()
    df = scan_source(spark, source)
    df = df.withColumn(
        "content",
        F.when(
            F.col("lang").isin(*cfg.normalize_langs), normalize_markdown(F.col("content"))
        ).otherwise(F.col("content")),
    )
    if cfg.salt_partitions:
        df = salted_repartition(df, cfg.salt_partitions, cfg.salt_buckets)
    else:
        # engine default: a source with fewer splits than cores (single
        # parquet file, small table) would serialize the UDF stages -- salt
        # it up to the session parallelism. Large inputs already have
        # >= parallelism splits, so this is a no-op exactly when the
        # shuffle would be expensive. Split count is estimated from the
        # input file list -- no plan->RDD probe (see estimate_input_splits).
        par = spark.sparkContext.defaultParallelism
        if estimate_input_splits(df) < par:
            df = salted_repartition(df, par, cfg.salt_buckets)
    return df


def prepared_paper_source(
    spark: SparkSession, source, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Paper-path preparation: everything ``prepared_source`` does (scan,
    sha, doc_id, F9 publisher-noise drop + T1 via normalize_markdown, lang
    gating, small-source partition bump) PLUS the paper-only repairs --
    F10 image-line drop, T2 dot respacing, T3 OCR de-hyphenation/CJK line
    fusing (`LLM_correction.py:392-394`, `md_paper_parser.py:52-59,190-198`).
    The extra chain respects the same lang gate: code/binary rows are never
    rewritten. sha stays the raw-content invariant (computed at scan)."""
    from ..functions.normalize import drop_image_lines, normalize_paper

    cfg = cfg or PipelineConfig()
    df = prepared_source(spark, source, cfg)
    return df.withColumn(
        "content",
        F.when(
            F.col("lang").isin(*cfg.normalize_langs),
            normalize_paper(drop_image_lines(F.col("content"))),
        ).otherwise(F.col("content")),
    )


def build_chunks(
    spark: SparkSession,
    source,
    cfg: PipelineConfig | None = None,
    with_spans: bool = False,
) -> DataFrame:
    cfg = cfg or PipelineConfig()
    return chunk_documents(
        prepared_source(spark, source, cfg), overlap=cfg.overlap, with_spans=with_spans
    )


def build_triples(spark: SparkSession, source, cfg: PipelineConfig | None = None) -> DataFrame:
    """The flagship query: source table -> canonical triple table.

    One extraction pass (``doc_facts``): content crosses the Arrow boundary
    exactly once per document and only compact span/triple arrays come
    back; ``triples_from_facts`` assembles the triples JVM-side.
    """
    cfg = cfg or PipelineConfig()
    src = prepared_source(spark, source, cfg)
    facts = doc_facts(src, overlap=cfg.overlap)
    triples = triples_from_facts(facts)
    if cfg.link_entities and cfg.dictionary is not None:
        from ..operators.linking import link_triples_to_dictionary

        linked = link_triples_to_dictionary(triples, cfg.dictionary)
        triples = triples.unionByName(linked)
    if cfg.link_entities or cfg.canonicalize:
        from ..operators.canonicalize import canonicalize_triples

        triples = canonicalize_triples(triples)
    return triples


def build_vertices(triples: DataFrame, id_hash: str = "xxhash64") -> DataFrame:
    """Vertex table = distinct endpoints with their types (MERGE semantics =
    dropDuplicates before append, `StoreToNeo4j/Neo4j_functions.py:14-21`).

    Single-scan: endpoints come out of ONE explode, not a subj/obj branch
    union -- a union would re-execute the whole upstream (including the
    extraction UDF) once per branch.

    ``id_hash`` selects the vertex-id digest. The default ``xxhash64`` is
    the cheap native path for corpus-scale graphs; ``md5`` exists so a
    caller can replay the id column in an external SQL oracle (DuckDB
    computes the identical hex digest) -- the driver contract entry opts
    into it. Both are deterministic functions of (name, type)."""
    if id_hash == "md5":
        id_col = F.md5(F.concat_ws("\x1f", "name", "type"))
    elif id_hash == "xxhash64":
        id_col = F.lower(F.hex(F.xxhash64("name", "type")))
    else:
        raise ValueError(f"id_hash must be 'xxhash64' or 'md5', got {id_hash!r}")
    return (
        triples.select(
            F.explode(
                F.array(
                    F.struct(F.col("subj").alias("name"), F.col("subj_type").alias("type")),
                    F.struct(F.col("obj").alias("name"), F.col("obj_type").alias("type")),
                )
            ).alias("v")
        )
        .select(F.col("v.name").alias("name"), F.col("v.type").alias("type"))
        .dropDuplicates(["name", "type"])
        .withColumn("id", id_col)
        .select("id", "name", "type")
    )


__all__ = [
    "PipelineConfig",
    "prepared_source",
    "prepared_paper_source",
    "build_chunks",
    "build_triples",
    "build_vertices",
]
