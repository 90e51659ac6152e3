"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the smoke check (flagship KG-construction query at
sf0.001). ``queries()`` exposes one DataFrame builder per implemented
operator from SURVEY.md §2 (plus the training-data-pipeline extensions);
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL for every
SQL-expressible entry. Numeric outputs are integer-exact (cents-scaled
bigint sums) or mirrored double expressions rounded identically on both
sides so value hashes match.

Naming convention: ``qNN_*`` = SQL-verified; ``kg_* / dedup_* / ann_* /
link_*`` = non-SQL-expressible pipeline ops (rows-only check, by design —
they are mapInPandas / LSH / iterative operators). The graph reads and
``mm_features`` carry full DuckDB oracles despite the prefix (fixture
lineage inlined as VALUES / ASCII-payload decode replayed in list algebra).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF0001 = "/root/testdata/sf0.001"

_STOP = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "be", "this", "that", "are", "was", "from",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from textchunking_and_knowledgegraph_spark.job import docs_as_source

    return docs_as_source(spark, f"{sf_dir}/documents.parquet")


# per-process: the split-lineage oracle SQL strings are generated in the
# same process that runs the Spark queries, so a process-private mkdtemp
# (0700, unpredictable suffix -- no pid-reuse or symlink pre-creation by
# another local user, unlike the old /tmp/tckg_split_<pid>) keeps
# query-writes and oracle-reads pointed at the same files while concurrent
# sessions stay clobber-proof; removed at interpreter exit so runs stop
# leaking parquet into /tmp
import atexit
import shutil as _shutil
import tempfile as _tempfile

_SPLIT_DIR = _tempfile.mkdtemp(prefix="tckg_split_")
atexit.register(_shutil.rmtree, _SPLIT_DIR, ignore_errors=True)


def _materialize_upstream(df: DataFrame, name: str) -> DataFrame:
    """Split-lineage oracle support (contract-only, not engine code): the
    chunker/parser upstream of a query is non-SQL (mapInPandas), but its
    DOWNSTREAM algebra is plain relational. Persist the upstream to parquet
    and hand the read-back to the downstream operator; the matching
    ``oracle_sql()`` entry reads the SAME parquet with ``read_parquet`` and
    recomputes the downstream independently in DuckDB, so the hash compare
    verifies the downstream algebra exactly (the driver runs the Spark
    callable before the oracle SQL, so the file is always fresh)."""
    path = f"{_SPLIT_DIR}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _cents(col) -> F.Column:
    """Exact integer aggregation of a 2-decimal double (sum order-invariant)."""
    return F.round(col * 100).cast("long")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: KG construction over the sf0.001 documents table --
    scan -> sha256 -> normalize -> chunk (mapInPandas) -> triple extraction
    -> canonical edge DataFrame. Driver checks rows>0 + stable schema."""
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples

    source = _docs_source(spark, SF0001)
    return build_triples(spark, source)


# ===========================================================================
# SQL-verified queries (oracle below mirrors each expression 1:1)
# ===========================================================================

def q01_filter_project(spark, sf_dir):
    """F1/F7: non-empty-text filter + projection, predicate pushed to scan."""
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.length(F.trim("text")) > 0) & (F.col("lang") == "zh"))
        .select("doc_id", "source", "n_chars")
    )


def q02_doc_transforms(spark, sf_dir):
    """T1 + T15 + fingerprint + T13 over one scan: fullwidth translate,
    content sha256 (the lineage invariant), md5 fingerprint, CJK-only strip.
    Four derived columns, zero shuffles, one pass over the table."""
    from textchunking_and_knowledgegraph_spark.functions.textfns import fingerprint

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.translate("text", "．（），", ".(),").alias("norm_text"),
        F.sha2(F.col("text"), 256).alias("sha"),
        fingerprint(F.col("text")).alias("fp"),
        F.regexp_replace("text", "[^一-鿿]", "").alias("cjk"),
    )


def q05_token_lang(spark, sf_dir):
    """Token counting + language-ID + BPE-ish token estimate, one scan."""
    from textchunking_and_knowledgegraph_spark.functions.textfns import (
        language_id,
        token_count,
        token_estimate,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        language_id(F.col("text")).alias("lang_id"),
        token_estimate(F.col("text")).alias("tok_est"),
    )


def q09_doc_stats(spark, sf_dir):
    """A1: chunk-length mean/variance scale-out (exact-arithmetic variance:
    integer sums first, one double division — order-invariant)."""
    agg = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_chars").alias("sum_c"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("sum_sq"),
        )
    )
    return agg.select(
        "lang",
        "cnt",
        "sum_c",
        F.round(F.col("sum_c").cast("double") / F.col("cnt"), 6).alias("avg_chars"),
        F.round(
            (
                F.col("sum_sq").cast("double")
                - F.col("sum_c").cast("double") * F.col("sum_c") / F.col("cnt")
            )
            / (F.col("cnt") - 1),
            4,
        ).alias("var_chars"),
    )


def q10_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped agg: map-side-combinable sums, cents-exact."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("sum_disc_price_cents"),
            F.count("*").alias("count_order"),
        )
    )


def q11_revenue_by_nation(spark, sf_dir):
    """J7-style equi joins; nation/customer broadcast (small dims)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
    )


def q12_anti_join(spark, sf_dir):
    """J10: MERGE = anti-join insert — customers with no orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q14_top_order_per_cust(spark, sf_dir):
    """W1: argmax top-1 per key with deterministic tie-break."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("total_cents"),
        )
    )


def q15_top_event_per_user(spark, sf_dir):
    """A6/W3: most-frequent-label vote (one label-propagation round shape)."""
    votes = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("freq"), F.asc("event_type"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "freq")
    )


def q16_set_ops(spark, sf_dir):
    """U1/U2/U3 in one tagged result: union-distinct and intersection of the
    customer/supplier nation-key sets, plus EXCEPT DISTINCT (ordering
    customers outside the BUILDING segment)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("key"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("key"))
    u = c.union(s).distinct().select(F.lit("union").alias("setop"), "key")
    i = c.intersect(s).select(F.lit("intersect").alias("setop"), "key")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").cast("long").alias("key"))
    b = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("long").alias("key"))
    )
    e = o.subtract(b).select(F.lit("except").alias("setop"), "key")
    return u.unionByName(i).unionByName(e)


def q19_exact_dedup(spark, sf_dir):
    """Exact dedup: sha256 groupBy, keep = min id per group."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q20_event_hourly(spark, sf_dir):
    """Streaming-shaped tumbling-window agg (batch analog of the
    readStream->window->count flow in streaming/events.py)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def q21_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 (queries = vec_id < 10, broadcast side).
    Double-cast so the arithmetic mirrors the DuckDB oracle exactly."""
    from textchunking_and_knowledgegraph_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5, query_id_col="query_id")


def q22_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact verify (explicit
    blocking=False so the DuckDB oracle can mirror it; the DEFAULT is the
    SRP-blocked 10^12-scale path)."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_near_dups(emb, "vec_id", "embedding", threshold=0.45, blocking=False)


def q23_quality_metrics(spark, sf_dir):
    """Quality scoring: punct ratio + mean word length + stopword ratio +
    duplicate-line fraction (Gopher-style repetition signal) + the
    language-aware composite quality_score (zh uses function-char density,
    en uses stopword ratio) — one scan, higher-order array lambdas
    JVM-side, mirrored arithmetic."""
    from textchunking_and_knowledgegraph_spark.functions.textfns import (
        dup_line_fraction,
        quality_score,
    )

    doc = _t(spark, sf_dir, "documents")
    n_tok = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    chars = F.length(F.regexp_replace("text", r"\s+", ""))
    punct = F.regexp_count(F.col("text"), F.lit(r"[\.,;:!\?\(\)\[\]\{\}]"))
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    stop = F.size(F.filter(toks, lambda t: t.isin(_STOP)))
    total = F.size(toks)
    return doc.select(
        "doc_id",
        F.round(
            F.when(F.length("text") > 0, punct / F.length("text")).otherwise(0.0), 6
        ).alias("punct_ratio"),
        F.round(F.when(n_tok > 0, chars / n_tok).otherwise(0.0), 6).alias(
            "mean_word_len"
        ),
        F.round(F.when(total > 0, stop / total).otherwise(0.0), 6).alias("stop_ratio"),
        F.round(dup_line_fraction(F.col("text")), 6).alias("dup_line_frac"),
        quality_score(F.col("text")).alias("quality"),
    )


def q26_star_revenue(spark, sf_dir):
    """Multiway star join: fact lineitem x orders x customer -> revenue per
    market segment (the big-shuffle query; AQE coalesces post-shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(rev).alias("revenue_cents"), F.count("*").alias("n_lines"))
    )


def q27_sequential_ord(spark, sf_dir):
    """W5: deterministic per-key sequence numbering (chunk `ord` analog)."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("ord", F.row_number().over(w))
        .select("event_id", "user_id", "ord")
    )


def q28_distinct_count(spark, sf_dir):
    """A4: distinct-entity count."""
    return _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q29_events_filtered_agg(spark, sf_dir):
    """Pushdown demo: type+value predicate reaches the parquet scan."""
    return (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type").isin("click", "purchase")) & (F.col("value") > 10.0))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
    )


def q31_fuzzy_search(spark, sf_dir):
    """ES fuzzy_search analog (`ES_Importer/es_importer.py:62-73`) over the
    REAL posting table: the probe expands to its edit-distance-1
    neighborhood in the distinct-term dictionary (JVM levenshtein with a
    length prefilter, broadcast-size candidate set), and the matched
    postings come back with their term frequencies -- the round-2 version
    ran levenshtein over part.p_brand, not the index."""
    from textchunking_and_knowledgegraph_spark.operators.postings import (
        build_postings,
        fuzzy_terms,
    )

    postings = build_postings(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )
    cand = fuzzy_terms(postings, "sparc", max_dist=1)
    return postings.join(F.broadcast(cand), "term").select("term", "doc_id", "tf")


def q32_match_phrase(spark, sf_dir):
    """ES match_phrase analog (`ES_Importer/es_importer.py:53-60`): exact
    phrase containment + per-source hit counts."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").contains("spark table"))
        .groupBy("source")
        .agg(F.count("*").alias("hits"))
    )


_VOCAB = ["spark", "vector", "window", "stream"]


def q33_vocab_containment(spark, sf_dir):
    """J3: controlled-vocabulary containment join (broadcast nested loop) --
    which dictionary terms occur in each document."""
    from textchunking_and_knowledgegraph_spark.operators.paper import (
        vocabulary_matches,
    )

    return vocabulary_matches(
        _t(spark, sf_dir, "documents"), _VOCAB, text_col="text", id_cols=("doc_id",)
    )


def q34_sessionize(spark, sf_dir):
    """Gap-based sessionization, declarative batch form (lag + cumulative
    boundary sum) -- the batch-parity twin of the applyInPandasWithState
    stateful operator in streaming/sessionize.py."""
    from textchunking_and_knowledgegraph_spark.streaming.sessionize import (
        sessionize_batch,
    )

    return sessionize_batch(_t(spark, sf_dir, "events"), gap_seconds=3600).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def q35_es_postings(spark, sf_dir):
    """S10 index-build sink (`ES_Importer/es_importer.py:18-51` analog):
    tokenized posting table (term, doc_id, tf) — the queryable core of the
    inverted index that `write_postings` materializes partitioned by term
    bucket."""
    from textchunking_and_knowledgegraph_spark.operators.postings import build_postings

    return build_postings(_t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text")


def stream_event_counts(spark, sf_dir):
    """REAL Structured Streaming: events parquet consumed as a
    Trigger.AvailableNow file stream -> watermark -> tumbling window ->
    memory sink; returns the drained result (rows-only: the oracle-verified
    batch twin is q20).

    Self-carried equivalence evidence (r5): the SAME run also computes the
    batch twin (windowed_event_counts over a plain scan) and attaches an
    order-invariant row-hash of each side plus their equality bit as
    columns -- the recorded output itself now ships the stream==batch
    proof instead of relying on the pytest pin alone. A divergence flips
    ``stream_matches_batch`` to false in every recorded row."""
    import tempfile
    import uuid

    from textchunking_and_knowledgegraph_spark.streaming.events import (
        stream_events_available_now,
        windowed_event_counts,
    )

    def _rowhash_sum(df) -> int:
        # order-invariant: per-row xxhash64 over stringified columns,
        # summed as decimal(38,0) (ANSI-safe -- a long sum overflows)
        h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
        v = df.select(h.cast("decimal(38,0)").alias("h")).agg(F.sum("h")).first()[0]
        return int(v or 0)

    ckpt = tempfile.mkdtemp(prefix="tckg_stream_ck_")
    name = f"tckg_stream_counts_{uuid.uuid4().hex[:8]}"
    res = stream_events_available_now(spark, f"{sf_dir}/events.parquet", ckpt, name)
    batch = windowed_event_counts(_t(spark, sf_dir, "events"))
    sh, bh = _rowhash_sum(res), _rowhash_sum(batch)
    return (
        res.withColumn("stream_row_hash", F.lit(str(sh)))
        .withColumn("batch_twin_row_hash", F.lit(str(bh)))
        .withColumn("stream_matches_batch", F.lit(sh == bh))
    )


def q30_normalize_markdown(spark, sf_dir):
    """Composed normalizer T1+T2+F9/F10 (column expressions only)."""
    from textchunking_and_knowledgegraph_spark.functions.normalize import (
        normalize_markdown,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id", normalize_markdown(F.col("text")).alias("norm")
    )


# ===========================================================================
# Non-SQL-expressible pipeline ops (rows-only driver check; full semantics
# covered in tests/ with golden fixtures)
# ===========================================================================

_PAPER_TEMPLATE = """# 【{year}年模拟卷{idx}】阅读理解

## {idx}. 阅读下面材料，回答问题。材料编号{idx}。
A. 选项一 B. 选项二 C. 选项三 D. 选项四
【答案】{ans}
【解析】本题考查{kw}。材料来自第{idx}篇文章。

# 第二部分 简答

## {idx2}. 论述下列问题。
### 分析{kw}的基本性质。
### 说明{kw}的应用场景。
【答案】见解析
【解析】本题考查{kw}与相关概念。
"""


def _paper_source(spark):
    """Deterministic synthetic exam papers (reference paper grammar)."""
    kws = ["函数的单调性", "等差数列", "平面向量", "概率的基本性质"]
    rows = [
        (
            "papers",
            f"exam/p{i}.md",
            f"{i:06x}" * 5,
            "markdown",
            _PAPER_TEMPLATE.format(
                year=2015 + i, idx=i + 1, idx2=i + 101,
                ans="ABCD"[i % 4], kw=kws[i % len(kws)],
            ),
        )
        for i in range(8)
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def paper_questions(spark, sf_dir):
    """Paper pipeline (T1-T7/F5-F6/J5): exam markdown -> typed question
    table, through the PAPER-path normalizer (dot respacing + OCR
    de-hyphenation, `md_paper_parser.py:52-59,190-198` -- the repairs the
    book path must not apply). Self-contained deterministic fixture corpus.

    Hash-verified via split lineage (r5): the PREPARED paper source (scan +
    sha + paper normalization -- plain column algebra, itself oracled via
    q30/q02-style mirrors) is materialized to parquet, and the DuckDB
    oracle independently recomputes the ENTIRE question grammar from that
    parquet -- heading-boundary sectioning, part-header/source-tag carry,
    the 【答案】/【解析】 anchor extraction with inline-解析 precedence, the
    type classification, and the ###/numbered sub-question split (see
    _paper_oracle_sql for the parity envelope)."""
    from textchunking_and_knowledgegraph_spark.operators.paper import parse_papers
    from textchunking_and_knowledgegraph_spark.plans.pipeline import (
        prepared_paper_source,
    )

    src = _materialize_upstream(
        prepared_paper_source(spark, _paper_source(spark)), "paper_src"
    )
    return parse_papers(src)


def paper_knowledge_edges(spark, sf_dir):
    """G4/J3: question -> 考查 knowledge edges via vocabulary containment.
    Hash-verified via split lineage: the parsed question table (non-SQL
    upstream) is materialized to parquet; DuckDB independently recomputes
    the containment join + edge projection from that parquet."""
    from textchunking_and_knowledgegraph_spark.operators.paper import (
        parse_papers,
        question_knowledge_edges,
        vocabulary_matches,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import (
        prepared_paper_source,
    )

    qs = _materialize_upstream(
        parse_papers(prepared_paper_source(spark, _paper_source(spark))),
        "paper_questions_up",
    )
    vocab = ["函数的单调性", "等差数列", "平面向量", "概率的基本性质"]
    return question_knowledge_edges(qs, vocabulary_matches(qs, vocab))


def kg_chunks(spark, sf_dir):
    """The chunk table, with the slicing/assembly hash-verified (r5): the
    chunker runs in provenance mode (chunk_documents with_spans=True: the
    engine's one packer, every chunk's text cut from its span), the
    extended table persists, and the DuckDB oracle independently RE-CUTS
    every chunk's text from its section sentence stream with substr and
    verifies the packing contract in SQL -- the chunks tile the stream in
    order with every skipped region (leading prefix, inter-chunk gaps --
    the dropped joiner at soft boundaries, zero at hard splits, or a whole
    whitespace-only slice the F7 filter removed -- and the trailing
    remainder) whitespace-only, every chunk <= 1000 chars and every
    non-final chunk >= 600. The Spark side emits len_ok/cov_ok as literal
    TRUE; the oracle computes them from the spans, so any violation
    hash-mismatches. The stream rides the first emitted chunk per section
    (linear storage) and the oracle windows it back with first_value. The
    boundary DECISIONS themselves (where the greedy loop cuts) stay pinned
    by executing the reference's own chunker
    (tests/test_reference_execution.py)."""
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_chunks
    from textchunking_and_knowledgegraph_spark.sources.io import CHUNK_SCHEMA

    chunks = _materialize_upstream(
        build_chunks(spark, _docs_source(spark, sf_dir), with_spans=True),
        "kg_chunks_up",
    )
    return chunks.select(
        *[f.name for f in CHUNK_SCHEMA.fields],
        F.lit(True).alias("len_ok"),
        F.lit(True).alias("cov_ok"),
    )


def kg_chunk_stats(spark, sf_dir):
    """A1/S11: chunk-length mean/variance + histogram per (repo, lang).
    Hash-verified via split lineage: the chunk table (non-SQL upstream) is
    materialized to parquet; DuckDB independently recomputes the two-level
    bucket aggregation + exact mean/var from that parquet."""
    from textchunking_and_knowledgegraph_spark.operators.chunker import (
        chunk_length_stats,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_chunks

    chunks = _materialize_upstream(
        build_chunks(spark, _docs_source(spark, sf_dir)), "chunk_stats_up"
    )
    return chunk_length_stats(chunks)


def kg_triples(spark, sf_dir):
    """The flagship query, hash-verified via split lineage: the fused
    Arrow extraction pass (doc_facts -- the only non-SQL stage) is
    materialized to parquet; DuckDB independently recomputes the ENTIRE
    downstream triple assembly (span explode, hier/block/content branches,
    deterministic MERGE dedup) from that parquet. Same plan as
    plans.pipeline.build_triples with the facts boundary persisted."""
    from textchunking_and_knowledgegraph_spark.operators.extract import (
        doc_facts,
        triples_from_facts,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import prepared_source

    facts = _materialize_upstream(
        doc_facts(prepared_source(spark, _docs_source(spark, sf_dir))),
        "triples_facts",
    )
    return triples_from_facts(facts)


def kg_vertices(spark, sf_dir):
    """A2: vertex table from the triple table. Hash-verified via split
    lineage: the triple table (non-SQL upstream) is materialized to
    parquet; DuckDB independently recomputes endpoint-explode + distinct +
    the md5 vertex id (build_vertices opts into the md5 id basis here so
    both engines compute the identical digest)."""
    from textchunking_and_knowledgegraph_spark.plans.pipeline import (
        build_triples,
        build_vertices,
    )

    triples = _materialize_upstream(
        build_triples(spark, _docs_source(spark, sf_dir)), "vertices_up"
    )
    return build_vertices(triples, id_hash="md5")


def kg_canonical_triples(spark, sf_dir):
    """CC canonicalization over the triple table. Hash-verified via split
    lineage: the triple table is materialized to parquet; DuckDB
    independently rederives the normalization-key alias groups (the exact
    component structure -- each collision group is a star onto its min
    name), applies the mapping with the chunk-object guard, and replays the
    deterministic struct-min MERGE dedup."""
    from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
        canonicalize_triples,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples

    triples = _materialize_upstream(
        build_triples(spark, _docs_source(spark, sf_dir)), "canonical_up"
    )
    return canonicalize_triples(triples)


def link_entities_lsh(spark, sf_dir):
    """MinHash-LSH dictionary linking (J1/J2): deterministic synthetic
    mention/dictionary pair — self-contained, no external data."""
    from textchunking_and_knowledgegraph_spark.operators.linking import link_entities
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    dict_rows, alias_rows = synthesize_entity_dictionary(seed=42)
    dictionary = spark.createDataFrame(dict_rows)
    mentions = spark.createDataFrame(alias_rows)
    return link_entities(mentions, dictionary, mention_col="alias")


def dedup_minhash(spark, sf_dir):
    """Banded-minhash near-dup pairs — the LSH scale path hash-verified
    end-to-end: the DuckDB oracle recomputes the md5-based gram hashes and
    the seeded permutations (numpy int64 wraparound emulated bit-exactly),
    then replays banding, the bucket cap + star pairs, the signature
    prefilter, and the exact word-3-shingle Jaccard verify 1:1."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(_t(spark, sf_dir, "documents"), threshold=0.5)


def dedup_simhash(spark, sf_dir):
    """Banded simhash near-dup pairs — hash-verified end-to-end: the md5
    word-hash basis lets the DuckDB oracle recompute the identical 64-bit
    fingerprints from hex nibbles and replay banding, the skew cap, the
    hamming filter, and the hamming-0 star recovery 1:1."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=8)


def dedup_ngram(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs, EXACT all-pairs baseline —
    hash-verified against an independent DuckDB replay (the same
    baseline-vs-scale-path split as ann_topk vs ann_srp_topk: the verify
    metric is pinned here at oracle scale; minhash/LSH blocking is the
    corpus-scale path, covered by dedup_minhash + tests). Threshold applied
    as integer cross-multiply so acceptance is exact rational arithmetic."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import ngram_jaccard_exact

    return ngram_jaccard_exact(_t(spark, sf_dir, "documents"), threshold_pct=40)


def ann_srp_topk(spark, sf_dir):
    """SRP (sign-LSH) bucketed ANN with the bucketing itself inside the
    verified surface: dyadic-quantized hyperplanes (multiples of 2^-10,
    dedup._hyperplanes quantize=True) over the exact-arithmetic fixture
    (coords multiples of 0.25) make every plane dot product exactly
    representable in float64, so reduction order provably cannot flip a
    sign bit -- the same argument that earned ann_ivf_topk its oracle.
    The DuckDB oracle replays the per-table sign buckets, the hamming-ball
    probe expansion (XOR masks), the candidate equi-join, and the
    in-bucket cosine top-k bit-exactly (see _srp_oracle_sql). The
    corpus-scale default (raw normal planes over real embeddings) stays
    pinned by the recall-floor test in tests/."""
    from textchunking_and_knowledgegraph_spark.operators.ann import srp_topk

    corpus_rows, query_rows = _ivf_fixture()
    corpus = spark.createDataFrame(corpus_rows, "vec_id string, embedding array<double>")
    queries = spark.createDataFrame(query_rows, "query_id string, embedding array<double>")
    return srp_topk(
        corpus, queries, k=3, n_planes=8, n_probe=8, n_tables=2, quantize=True
    )


def _ivf_fixture() -> tuple[list[tuple[str, list[float]]], list[tuple[str, list[float]]]]:
    """Exact-arithmetic IVF fixture: 4 well-separated clusters x 4 vectors,
    dim 4. Every coordinate is a multiple of 0.25 and every possible cluster
    mean a multiple of 1/64, so ALL of Lloyd's arithmetic (distances, means,
    the 6-dp round) is exactly representable -- reduction order cannot
    matter, which is what makes the iterative fit replayable bit-exactly in
    a SQL oracle."""
    centers = [
        ("a", [8.0, 0.0, 0.0, 0.0]),
        ("b", [0.0, 8.0, 0.0, 0.0]),
        ("c", [0.0, 0.0, 8.0, 0.0]),
        ("d", [0.0, 0.0, 0.0, 8.0]),
    ]
    offsets = [0.25, -0.25, 0.5, -0.5]
    corpus = []
    for ci, (name, ctr) in enumerate(centers):
        odim = (ci + 1) % 4  # perturb a non-center dim
        for j, off in enumerate(offsets):
            v = list(ctr)
            v[odim] += off
            corpus.append((f"{name}{j}", v))
    queries = [("qa", [7.5, 0.0, 0.0, 0.25]), ("qc", [0.25, 0.0, 7.5, 0.0])]
    return corpus, queries


def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN with the Lloyd's fit INSIDE the verified surface:
    the DuckDB oracle replays the seeded init (md5 draw), all three
    assignment/update iterations, the probe ranking and the in-cell cosine
    top-k over the same inlined fixture (see _ivf_oracle_sql). Exactness
    argument in _ivf_fixture. init_hash='md5' is the oracle opt-in; the
    corpus-scale default stays xxhash64 (ann.py fit_ivf_centroids)."""
    from textchunking_and_knowledgegraph_spark.operators.ann import ivf_topk

    corpus_rows, query_rows = _ivf_fixture()
    corpus = spark.createDataFrame(corpus_rows, "vec_id string, embedding array<double>")
    queries = spark.createDataFrame(query_rows, "query_id string, embedding array<double>")
    return ivf_topk(
        corpus, queries, k=3, n_centroids=4, n_probe=2, n_iters=3,
        seed=42, init_hash="md5",
    )


def _dict_edges(spark):
    from textchunking_and_knowledgegraph_spark.operators.linking import (
        hierarchy_triples,
    )
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    dict_rows, _ = synthesize_entity_dictionary(seed=42)
    return hierarchy_triples(spark.createDataFrame(dict_rows))


def dict_hierarchy(spark, sf_dir):
    """G2: 下位 hierarchy triples from consecutive cells of each dictionary
    row's lineage path (`EntityLinking/Entity_Linking.py:46-64` semantics;
    exact edge set pinned by tests/test_linking.py golden)."""
    return _dict_edges(spark)


def graph_neighbors(spark, sf_dir):
    """J7/W2: neighbor lookup with relation whitelist + limit."""
    from textchunking_and_knowledgegraph_spark.operators.graph import neighbors

    return neighbors(_dict_edges(spark), "函数的概念", rels=["下位"], limit=10)


def graph_lca(spark, sf_dir):
    """J9/W4: lowest common ancestor via two frontier expansions. Probe
    nodes: the first two level-2 entities of the seeded dictionary — both
    children of the same hierarchy root, so an LCA always exists."""
    from textchunking_and_knowledgegraph_spark.operators.graph import (
        lowest_common_ancestor,
    )
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    dict_rows, _ = synthesize_entity_dictionary(seed=42)
    lvl2 = [d["entity"] for d in dict_rows
            if d["level"] == 2 and d["domain"] == "数学实体"][:2]
    return lowest_common_ancestor(
        _dict_edges(spark), lvl2[0], lvl2[1], rel="下位", max_hops=4
    )


def graph_random_walk(spark, sf_dir):
    """Seeded deterministic random-walk sampling over the hierarchy graph
    (`StoreToNeo4j/Neo4j_functions.py:169-178`). Hash-verified: the draw is
    an md5 digest both engines compute identically, so the DuckDB oracle
    replays every step of the walk (see _walk_oracle_sql); determinism
    across partitionings is additionally pinned by tests/test_graph.py."""
    from textchunking_and_knowledgegraph_spark.operators.graph import random_walk

    edges = _dict_edges(spark)
    seeds = edges.select(F.col("subj").alias("seed_node")).distinct()
    return random_walk(edges, seeds, walk_len=3, n_walks=2, seed=42, draw_hash="md5")


def kg_add_content(spark, sf_dir):
    """Incremental add-content flow (`AddContent/Update_Content.py:24-59`):
    materialize a graph from half the corpus, then MERGE the other half into
    the persisted output rewriting only affected repo buckets; returns the
    merged edge table.

    Hash-verified DIFFERENTIALLY: the query also materializes a ONE-SHOT
    build over the full source (a different code path -- no checkpoint
    manifest, no bucket rewrite) and the oracle simply reads that parquet,
    so the driver's hash compare proves incremental-merge == full-rebuild
    row-for-row (the operator's defining contract, previously pinned only
    at (subj,pred,obj,sha) granularity by tests/test_add_content.py)."""
    import shutil
    import tempfile

    from textchunking_and_knowledgegraph_spark.plans.add_content import add_content
    from textchunking_and_knowledgegraph_spark.plans.materialize import (
        materialize_graph,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples

    src = _docs_source(spark, sf_dir)
    # split on a column the source shape actually carries -- "doc_id" only
    # resolved through Spark's missing-reference rule (fragile)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    _materialize_upstream(build_triples(spark, src), "add_content_oneshot")
    out = tempfile.mkdtemp(prefix="tckg_addc_")
    try:
        materialize_graph(
            build_triples(spark, src.filter(half == 0)), out, spark=spark
        )
        add_content(spark, out, src.filter(half == 1))
        merged = spark.read.parquet(f"{out}/edges").drop("repo_bucket")
        # detach from the temp dir before it is removed
        merged = merged.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return merged


def graph_pagerank(spark, sf_dir):
    """PageRank over the deterministic hierarchy fixture graph —
    hash-verified: the DuckDB oracle re-derives the edge set from the
    inlined lineage paths and replays every damped iteration (same
    per-round 9-dp rounding, same uniform dangling redistribution), so
    ranks must agree bit-for-bit (the rounding makes the float fixpoint
    reduction-order-independent — the IVF-oracle stability trade).
    Partitioning-invariance over arbitrary graphs stays pinned by
    tests/test_graph.py."""
    from textchunking_and_knowledgegraph_spark.operators.graph import pagerank

    return pagerank(_dict_edges(spark), iters=8)


def graph_label_prop(spark, sf_dir):
    """A6/W3: label-propagation community rounds over the hierarchy graph."""
    from pyspark.sql import functions as SF

    from textchunking_and_knowledgegraph_spark.operators.graph import (
        label_propagation,
    )

    edges = _dict_edges(spark)
    nodes = (
        edges.select(SF.col("subj").alias("node"))
        .union(edges.select(SF.col("obj").alias("node")))
        .distinct()
        .withColumn("label", SF.col("node"))
    )
    return label_propagation(edges, nodes, rounds=2)


def textbook_question_table(spark, sf_dir):
    """F4/T7/F6/A8: exercise-question extraction over the chunk table of a
    deterministic textbook fixture. Hash-verified via split lineage: the
    chunk table (non-SQL upstream) is materialized to parquet; DuckDB
    independently recomputes the WHOLE question extraction -- the exercise
    filter, T1 translate + dot respacing, the numbered-question regexp
    split + posexplode, and the option-marker stem/body split."""
    from textchunking_and_knowledgegraph_spark.operators.textbook_questions import (
        textbook_questions,
    )
    from textchunking_and_knowledgegraph_spark.plans.pipeline import build_chunks

    book = (
        "# 第一章 集合\n集合是数学的基本概念。本节介绍集合的表示方法。\n"
        "## 练习\n1．求下列集合的并集。\n(1) A={1,2} (2) B={2,3}\n"
        "2．判断下列说法是否正确。\n集合的元素具有互异性。\n"
        "## 1.2 集合的运算\n交集与并集满足交换律。\n"
        "## 复习题\n3．证明德摩根定律。\nA. 正确 B. 错误\n"
    )
    src = spark.createDataFrame(
        [("books", "math/b1.md", "c1", "markdown", book)],
        "repo string, path string, commit string, lang string, content string",
    )
    chunks = _materialize_upstream(build_chunks(spark, src), "textbook_chunks")
    return textbook_questions(chunks)


_TOC_BOOK = (
    "前言\n目录\n"
    "# 第一章 集合\n1.1 集合的概念\n1.2 集合的运算\n"
    "# 第二章 函数\n2.1 函数的概念\n2.2 函数的单调性\n"
    "# 第十一章 概率\n11.1 古典概型\n"
    "# 第一章 集合\n" + "正文从这里开始。\n" * 40
)


def kg_toc(spark, sf_dir):
    """T10/T11: TOC extraction with Chinese-numeral chapter parsing
    (`PDF_to_MD/LLM_correction.py:267-322`) over a deterministic book
    fixture; exact structure pinned by tests/test_toc.py and hash-verified
    against a DuckDB window-function replay of the sequential walk."""
    from textchunking_and_knowledgegraph_spark.operators.toc import extract_toc

    df = spark.createDataFrame([("b1", _TOC_BOOK)], "doc_id string, content string")
    return extract_toc(df)


def graph_multi_hop(spark, sf_dir):
    """J8: bounded BFS traversal over the deterministic hierarchy fixture —
    oracle-verified against a DuckDB WITH RECURSIVE twin (min-hop per
    reachable node). Traversal over the full doc-built triple table stays
    covered by tests/test_graph.py."""
    from textchunking_and_knowledgegraph_spark.operators.graph import multi_hop

    return multi_hop(_dict_edges(spark), "集合与函数", max_hops=3)


def mm_features(spark, sf_dir):
    """Multimodal decode -> typed feature rows via the Arrow-batched
    mapInPandas operator, now through the REAL pure-numpy codecs for image
    (24-bit BMP) and audio (RIFF/WAVE PCM): each image row carries an actual
    encoded BMP (constant fill, dims parameterized by doc_id) and each audio
    row an actual WAV (constant 16-bit sample, length parameterized by
    doc_id), so the decoded width/height/n_frames/one-hot histogram are pure
    doc_id arithmetic the DuckDB oracle recomputes WITHOUT decoding --
    hash equality proves the decoder recovered exactly what was encoded.
    Video rows keep the deterministic fake decode over the text bytes (no
    pure-numpy container demuxer exists; multimodal.real_decoder raises
    there by design) and the oracle replays that byte arithmetic as before.
    Feature dims are emitted as 16 scalar double columns (array columns
    crash the driver's pandas canonicalizer); audio width/height are
    coalesced to 0 so the column stays integral on both engines."""
    import numpy as np
    import pandas as pd

    from textchunking_and_knowledgegraph_spark.operators.jpeg import encode_jpeg
    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        encode_png,
        encode_wav,
        extract_features,
        fake_decoder,
        real_decoder,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("lang") == "en")
            & F.col("text").rlike(r"\A[ -~]+\z")
            & (F.length("text") >= 4)
        )
        .select(
            "doc_id",
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
            ).alias("kind"),
            "text",
        )
    )
    media_cols = [f.name for f in MEDIA_SCHEMA.fields]

    def _synth(batches):
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                did, kind = int(r["doc_id"]), r["kind"]
                if kind == "image":
                    shape = (3 + did % 7, 4 + did % 13)
                    fill = did % 256
                    # rotate codecs over the SAME pixel formula: the oracle
                    # recomputes decoded dims/fill from doc_id arithmetic
                    # without decoding, so hash equality proves the BMP,
                    # PNG (r5: zlib+unfilter), and baseline-JPEG (r5:
                    # Huffman+IDCT; constant grayscale at quant=1 is
                    # integer-exact, property-tested over all 256 fills)
                    # decoders each recover exactly what was encoded.
                    # Image doc_ids are multiples of 3, so did % 9 walks
                    # {0, 3, 6} -> png, bmp, jpeg.
                    codec = did % 9
                    if codec == 0:
                        payload = encode_png(np.full((*shape, 3), fill, np.uint8))
                    elif codec == 3:
                        payload = encode_bmp(np.full((*shape, 3), fill, np.uint8))
                    else:
                        payload = encode_jpeg(np.full(shape, fill, np.uint8))
                elif kind == "audio":
                    s = np.full(8 + did % 100, did % 65536 - 32768, dtype=np.int16)
                    payload = encode_wav(s)
                else:
                    payload = r["text"].encode("utf-8")
                rows.append(
                    {"media_id": str(did), "kind": kind, "mime": None,
                     "payload": payload, "meta": None}
                )
            yield pd.DataFrame(rows, columns=media_cols)

    media = base.mapInPandas(_synth, schema=MEDIA_SCHEMA)

    def _decoder(payload, kind):
        return fake_decoder(payload, kind) if kind == "video" else real_decoder(payload, kind)

    feats = extract_features(media, decoder=_decoder)
    return feats.select(
        "media_id",
        "kind",
        F.coalesce("width", F.lit(0)).alias("width"),
        F.coalesce("height", F.lit(0)).alias("height"),
        "n_frames",
        *[
            F.element_at("feature", i + 1).cast("double").alias(f"f{i:02d}")
            for i in range(16)
        ],
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """<= 50 entries (round 1 recorded exactly 50 CORRECTNESS rows for 53
    registered queries — the last 3 in dict order were silently dropped, so
    the contract now stays under that bound and orders the flagship kg_*
    entries before anything expendable; the streaming entry, which has an
    oracle-verified batch twin in q20, goes last)."""
    out = {
        "q01_filter_project": q01_filter_project,
        "q02_doc_transforms": q02_doc_transforms,
        "q05_token_lang": q05_token_lang,
        "q09_doc_stats": q09_doc_stats,
        "q10_pricing_summary": q10_pricing_summary,
        "q11_revenue_by_nation": q11_revenue_by_nation,
        "q12_anti_join": q12_anti_join,
        # q13_semi_join rotated out for ann_ivf_topk (50-entry driver cap):
        # the left-semi JVM op stays exercised by q33's containment join and
        # the dedup keeper logic; IVF gives the ANN family an oracle-checked
        # scale path to complement brute-force q21.
        "ann_ivf_topk": ann_ivf_topk,
        "q14_top_order_per_cust": q14_top_order_per_cust,
        "q15_top_event_per_user": q15_top_event_per_user,
        "q16_set_ops": q16_set_ops,
        "q19_exact_dedup": q19_exact_dedup,
        "q20_event_hourly": q20_event_hourly,
        "q21_ann_topk": q21_ann_topk,
        "q22_embedding_near_dups": q22_embedding_near_dups,
        "q23_quality_metrics": q23_quality_metrics,
        # q25_orders_by_month rotated out for graph_pagerank (50-entry
        # driver cap): its month-truncate+agg shape stays covered by
        # q20/q29; PageRank brings an iterative whole-graph algorithm
        # into the hash-verified contract.
        "graph_pagerank": graph_pagerank,
        "q26_star_revenue": q26_star_revenue,
        "q27_sequential_ord": q27_sequential_ord,
        "q28_distinct_count": q28_distinct_count,
        "q29_events_filtered_agg": q29_events_filtered_agg,
        "q30_normalize_markdown": q30_normalize_markdown,
        "q31_fuzzy_search": q31_fuzzy_search,
        "q32_match_phrase": q32_match_phrase,
        "q33_vocab_containment": q33_vocab_containment,
        "q34_sessionize": q34_sessionize,
        "q35_es_postings": q35_es_postings,
        # pipeline ops (rows-only) — flagship KG chain first
        "kg_chunks": kg_chunks,
        "kg_chunk_stats": kg_chunk_stats,
        "kg_triples": kg_triples,
        "kg_vertices": kg_vertices,
        "kg_canonical_triples": kg_canonical_triples,
        "dict_hierarchy": dict_hierarchy,
        "kg_toc": kg_toc,
        "link_entities_lsh": link_entities_lsh,
        "graph_neighbors": graph_neighbors,
        "graph_lca": graph_lca,
        "graph_label_prop": graph_label_prop,
        "graph_random_walk": graph_random_walk,
        "graph_multi_hop": graph_multi_hop,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "dedup_ngram": dedup_ngram,
        "ann_srp_topk": ann_srp_topk,
        "paper_questions": paper_questions,
        "paper_knowledge_edges": paper_knowledge_edges,
        "textbook_question_table": textbook_question_table,
        "mm_features": mm_features,
        "kg_add_content": kg_add_content,
        "stream_event_counts": stream_event_counts,
    }
    # the driver silently drops entries past 50 (round-1 evidence: 53
    # registered, exactly 50 CORRECTNESS rows) -- fail LOUDLY instead
    assert len(out) <= 50, f"{len(out)} queries registered; driver records only 50"
    return out


def _graph_fixture_sql() -> tuple[str, str, str]:
    """(edges_cte, probe_a, probe_b) for the graph-read oracles.

    The deterministic dictionary fixture's lineage paths are inlined as a
    VALUES CTE and the 下位 edge set is DERIVED in SQL (consecutive-cell
    pairs — the same G2 semantics hierarchy_triples implements), so the
    DuckDB side computes neighbors / BFS / LCA independently rather than
    replaying a golden row list. Probes match the Spark entries exactly
    (first two level-2 数学实体 entities)."""
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    ents, _ = synthesize_entity_dictionary(seed=42)
    multi = [e for e in ents if len(e["path"]) >= 2]
    # the edge CTE hardcodes the 数学实体 domain — fail loudly if the
    # fixture ever grows multi-cell paths in another domain
    assert multi and all(e["domain"] == "数学实体" for e in multi)
    rows = ",\n                  ".join(
        "([" + ", ".join("'" + p.replace("'", "''") + "'" for p in e["path"]) + "])"
        for e in multi
    )
    edges_cte = f"""
            WITH RECURSIVE dict_paths(path) AS (VALUES
                  {rows}),
            edges AS (
              SELECT DISTINCT path[i] AS subj, '下位' AS pred, path[i+1] AS obj
              FROM (SELECT path, unnest(generate_series(1, len(path) - 1)) AS i
                    FROM dict_paths)
            )
"""
    lvl2 = [e["entity"] for e in ents if e["level"] == 2 and e["domain"] == "数学实体"][:2]
    return edges_cte, lvl2[0], lvl2[1]


_graph_edges_cte, _graph_probe_a, _graph_probe_b = _graph_fixture_sql()


def _linking_fixture_sql() -> str:
    """Mention/entity VALUES CTEs for the link_entities_lsh oracle.

    The oracle re-derives the link table INDEPENDENTLY: exact all-pairs
    char-2gram Jaccard (the re-rank metric of operators/linking.py) with
    the same min_score=0.30 gate and (score desc, entity asc) top-1 —
    no LSH. Hash equality therefore PROVES the banded-minhash blocking
    loses no top-1 link on the fixture (the same exact-vs-blocked pinning
    q21/ann_srp and dedup_ngram/dedup_minhash use, here collapsed into
    one entry because the fixture is small enough for the exact join).

    Parity envelope: this oracle lowercases with DuckDB ``lower`` while
    the operator uses Python ``str.lower`` — equivalent on the fixture's
    CJK/ASCII vocabulary (CJK has no case), which is the only text this
    inlined-VALUES oracle can ever see. The corpus-facing dedup oracles,
    which DO take arbitrary text, use the ASCII-only case-fold instead
    (see dedup.py ``_ASCII_LOWER_TAB``)."""
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    ents, aliases = synthesize_entity_dictionary(seed=42)

    def _vals(strs) -> str:
        return ",\n                  ".join(
            "('" + s.replace("'", "''") + "')" for s in sorted(set(strs))
        )

    return f"""
            WITH mention_rows(mention) AS (VALUES
                  {_vals(a["alias"] for a in aliases)}),
            entity_rows(entity) AS (VALUES
                  {_vals(e["entity"] for e in ents)}),
            mg AS (
              SELECT mention,
                     CASE WHEN length(t) < 2 THEN [t]
                          ELSE list_distinct(list_transform(
                            range(1, length(t)),
                            i -> substring(t, CAST(i AS INT), 2))) END AS g
              FROM (SELECT mention, lower(trim(mention)) AS t
                    FROM mention_rows WHERE length(trim(mention)) > 0)
            ),
            eg AS (
              SELECT entity,
                     CASE WHEN length(t) < 2 THEN [t]
                          ELSE list_distinct(list_transform(
                            range(1, length(t)),
                            i -> substring(t, CAST(i AS INT), 2))) END AS g
              FROM (SELECT entity, lower(trim(entity)) AS t
                    FROM entity_rows WHERE length(trim(entity)) > 0)
            ),
            scored AS (
              SELECT mention, entity,
                     len(list_intersect(mg.g, eg.g))
                       / CAST(len(list_distinct(list_concat(mg.g, eg.g)))
                              AS DOUBLE) AS score
              FROM mg CROSS JOIN eg
            )
"""


_linking_cte = _linking_fixture_sql()


def _toc_oracle_sql() -> str:
    """DuckDB replay of operators/toc.py ``extract_toc`` over the inlined
    fixture book: the stateful sequential walk becomes window algebra.

    Equivalence argument (pre-break, per doc): the walk's ``last_no`` (max
    emitted chapter number) equals the running max over ALL prior
    chapter-matched lines, because a chapter line either beats the max (and
    is emitted, updating both), equals it (skipped, max unchanged), or is
    below it (the walk BREAKS, so no later line matters). Hence:
      emitted chapter   = chapter line with cno > max_prev
      'current is set'  = max_prev > 0 (every emitted number is > 0;
                          unparseable numerals yield 0 and never emit)
      break line        = chapter line with cno < max_prev, OR a
                          '#'-prefixed non-chapter line after a chapter
    and the kept region is everything before the doc's first break line."""
    book = _TOC_BOOK.replace("'", "''")
    return f"""
            WITH doc(doc_id, content) AS (VALUES ('b1', '{book}')),
            sliced AS (
              SELECT doc_id,
                     substring(content, 1,
                       CAST(floor(greatest(length(content) / 20.0, 2000))
                            AS INT)) AS head
              FROM doc
            ),
            lines0 AS (
              SELECT doc_id, i, trim(ls[i]) AS line
              FROM (SELECT doc_id, ls,
                           unnest(generate_series(1, len(ls))) AS i
                    FROM (SELECT doc_id, string_split(head, chr(10)) AS ls
                          FROM sliced WHERE contains(head, '目录')))
            ),
            toc_at AS (
              SELECT doc_id, MIN(i) AS ti FROM lines0
              WHERE contains(line, '目录') GROUP BY doc_id
            ),
            cand AS (
              SELECT l.doc_id, l.i, l.line,
                     regexp_matches(l.line, '#\\s*第(.*?)(章|单元)') AS is_chap,
                     trim(translate(
                       regexp_extract(l.line, '#\\s*第(.*?)(章|单元)', 1),
                       '零一二三四五六七八九０１２３４５６７８９',
                       '01234567890123456789')) AS numt
              FROM lines0 l JOIN toc_at t USING (doc_id)
              WHERE l.i > t.ti AND l.line <> ''
            ),
            numbered AS (
              SELECT doc_id, i, line, is_chap,
                     CASE WHEN NOT is_chap THEN NULL
                          WHEN regexp_matches(numt, '^[0-9]+$')
                            THEN CAST(numt AS INT)
                          WHEN regexp_matches(numt, '^[0-9]?十[0-9]?$')
                            THEN COALESCE(TRY_CAST(
                                   regexp_extract(numt, '^([0-9]?)十', 1)
                                   AS INT), 1) * 10
                               + COALESCE(TRY_CAST(
                                   regexp_extract(numt, '十([0-9]?)$', 1)
                                   AS INT), 0)
                          ELSE 0 END AS cno
              FROM cand
            ),
            walked AS (
              SELECT *,
                     COALESCE(MAX(cno) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS max_prev
              FROM numbered
            ),
            cut AS (
              SELECT doc_id, MIN(i) AS brk FROM walked
              WHERE (is_chap AND cno < max_prev)
                 OR (NOT is_chap AND starts_with(line, '#') AND max_prev > 0)
              GROUP BY doc_id
            ),
            kept AS (
              SELECT w.* FROM walked w LEFT JOIN cut c USING (doc_id)
              WHERE c.brk IS NULL OR w.i < c.brk
            ),
            emitted AS (
              SELECT *,
                     (is_chap AND cno > max_prev) AS is_chap_row,
                     (NOT is_chap AND max_prev > 0) AS is_sec_row
              FROM kept
            ),
            rows_out AS (
              SELECT doc_id, i, is_chap_row, line,
                     MAX(CASE WHEN is_chap_row THEN i END) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS chap_i
              FROM emitted
              WHERE is_chap_row OR is_sec_row
            )
            SELECT r.doc_id,
                   CAST(ch.cno AS INTEGER) AS chapter_no,
                   ch.line AS chapter_title,
                   CASE WHEN r.is_chap_row THEN NULL ELSE r.line END AS section,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY r.doc_id ORDER BY r.i) AS INTEGER) AS ord
            FROM rows_out r
            JOIN emitted ch ON ch.doc_id = r.doc_id AND ch.i = r.chap_i
    """


def _ivf_oracle_sql(
    n_centroids: int = 4,
    n_probe: int = 2,
    n_iters: int = 3,
    k: int = 3,
    seed: int = 42,
    dim: int = 4,
) -> str:
    """DuckDB replay of operators/ann.py ``fit_ivf_centroids`` +
    ``ivf_topk`` over the inlined exact-arithmetic fixture: the md5 seed
    draw, each Lloyd's iteration unrolled as assignment (argmin with the
    (distance, bucket) tie order Spark's array_position(min) implies) and
    update (6-dp-rounded per-dim mean, empty cluster keeps its previous
    centroid via COALESCE), then the probe ranking and in-cell cosine
    top-k. Bit-exact because every intermediate is exactly representable
    (see _ivf_fixture) and the final cosine uses the q21-proven 6-dp
    list_dot_product parity."""
    corpus_rows, query_rows = _ivf_fixture()

    def _vals(rows):
        return ",\n                  ".join(
            "('" + i + "', [" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[])"
            for i, v in rows
        )

    def _dist(vec: str, cen: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> ({vec}[i] - {cen}[i]) * ({vec}[i] - {cen}[i])))"
        )

    sql = f"""
            WITH emb(vec_id, e) AS (VALUES
                  {_vals(corpus_rows)}),
            qs(query_id, q) AS (VALUES
                  {_vals(query_rows)}),
            c0 AS (
              SELECT CAST(row_number() OVER (
                       ORDER BY md5(vec_id || '|{seed}'), vec_id) AS INT) - 1
                       AS bucket,
                     e AS c
              FROM emb
              QUALIFY row_number() OVER (
                ORDER BY md5(vec_id || '|{seed}'), vec_id) <= {n_centroids}
            )"""
    for t in range(1, n_iters + 1):
        p = t - 1
        sql += f"""
            , a{t} AS (
              SELECT vec_id, e, bucket FROM (
                SELECT emb.vec_id, emb.e, c{p}.bucket,
                       row_number() OVER (PARTITION BY emb.vec_id
                         ORDER BY {_dist("e", "c")}, c{p}.bucket) AS rn
                FROM emb CROSS JOIN c{p}
              ) WHERE rn = 1
            ),
            m{t} AS (
              SELECT bucket, i AS pos, ROUND(AVG(e[i]), 6) AS m
              FROM a{t} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) ix
              GROUP BY bucket, i
            ),
            c{t} AS (
              SELECT prev.bucket, COALESCE(upd.c, prev.c) AS c
              FROM c{p} prev
              LEFT JOIN (SELECT bucket, list(m ORDER BY pos) AS c
                         FROM m{t} GROUP BY bucket) upd USING (bucket)
            )"""
    final = f"c{n_iters}"
    sql += f"""
            , assigned AS (
              SELECT vec_id, e, bucket FROM (
                SELECT emb.vec_id, emb.e, {final}.bucket,
                       row_number() OVER (PARTITION BY emb.vec_id
                         ORDER BY {_dist("e", "c")}, {final}.bucket) AS rn
                FROM emb CROSS JOIN {final}
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT query_id, q, bucket FROM (
                SELECT qs.query_id, qs.q, {final}.bucket,
                       row_number() OVER (PARTITION BY qs.query_id
                         ORDER BY {_dist("q", "c")}, {final}.bucket) AS rn
                FROM qs CROSS JOIN {final}
              ) WHERE rn <= {n_probe}
            ),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     ROUND(list_dot_product(p.q, a.e)
                           / (sqrt(list_dot_product(p.q, p.q))
                              * sqrt(list_dot_product(a.e, a.e))), 6) AS cosine
              FROM assigned a JOIN probes p ON a.bucket = p.bucket
              WHERE a.vec_id <> p.query_id
            )
            SELECT query_id, vec_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= {k}
    """
    return sql


def _srp_oracle_sql(
    k: int = 3,
    n_planes: int = 8,
    n_probe: int = 8,
    n_tables: int = 2,
    dim: int = 4,
) -> str:
    """DuckDB replay of operators/ann.py ``srp_topk`` over the inlined
    exact-arithmetic fixture: the dyadic-quantized hyperplanes (the
    operator's deterministic parameters, inlined the way _minhash_oracle_sql
    inlines its permutation constants) recompute every sign bit -- each
    plane-dot term is a multiple of 2^-12 with a tiny numerator, so the
    4-term sum is exact in float64 under ANY summation order (numpy BLAS on
    the Spark side, list_sum here) -- then the hamming-ball XOR probe
    masks, the (table_id, bucket) candidate equi-join, the cross-table
    DISTINCT, and the 6-dp in-bucket cosine top-k replay 1:1."""
    import math

    from textchunking_and_knowledgegraph_spark.operators.dedup import _hyperplanes

    corpus_rows, query_rows = _ivf_fixture()

    def _vals(rows):
        return ",\n                  ".join(
            "('" + i + "', [" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[])"
            for i, v in rows
        )

    plane_vals = ",\n                  ".join(
        f"({t}, {p}, [" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[])"
        for t in range(n_tables)
        for p, row in enumerate(_hyperplanes(dim, n_planes, seed=7 + t, quantize=True))
    )
    radius = max(0, int(math.log2(max(1, n_probe))))
    masks = ", ".join(
        str(m) for m in range(1 << n_planes) if bin(m).count("1") <= radius
    )
    dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> v[i] * pl.p[i]))"
    return f"""
            WITH emb(vec_id, e) AS (VALUES
                  {_vals(corpus_rows)}),
            qs(query_id, q) AS (VALUES
                  {_vals(query_rows)}),
            planes(table_id, plane_id, p) AS (VALUES
                  {plane_vals}),
            cb AS (
              SELECT vec_id, pl.table_id,
                     CAST(SUM(CASE WHEN {dot.replace('v[i]', 'emb.e[i]')} > 0
                                   THEN 1 << pl.plane_id ELSE 0 END)
                          AS INTEGER) AS bucket
              FROM emb CROSS JOIN planes pl GROUP BY vec_id, pl.table_id
            ),
            qb AS (
              SELECT query_id, pl.table_id,
                     CAST(SUM(CASE WHEN {dot.replace('v[i]', 'qs.q[i]')} > 0
                                   THEN 1 << pl.plane_id ELSE 0 END)
                          AS INTEGER) AS bucket
              FROM qs CROSS JOIN planes pl GROUP BY query_id, pl.table_id
            ),
            probes AS (
              SELECT query_id, table_id, xor(bucket, m.m) AS probe_bucket
              FROM qb CROSS JOIN (SELECT unnest([{masks}]) AS m) m
            ),
            cand AS (
              SELECT DISTINCT p.query_id, c.vec_id
              FROM cb c JOIN probes p ON c.bucket = p.probe_bucket
                                     AND c.table_id = p.table_id
              WHERE c.vec_id <> p.query_id
            ),
            scored AS (
              SELECT cand.query_id, cand.vec_id,
                     ROUND(list_dot_product(qs.q, emb.e)
                           / (sqrt(list_dot_product(qs.q, qs.q))
                              * sqrt(list_dot_product(emb.e, emb.e))), 6) AS cosine
              FROM cand JOIN qs USING (query_id) JOIN emb USING (vec_id)
            )
            SELECT query_id, vec_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= {k}
    """


def _walk_oracle_sql(walk_len: int = 3, n_walks: int = 2, seed: int = 42) -> str:
    """DuckDB replay of operators/graph.py ``random_walk`` over the fixture
    edges: the draw is argmin of the md5 hex digest of
    ``seed|walk_id|step|candidate`` (string order == digest order on both
    engines), advanced one CTE per lockstep step. A stochastic-sampling
    operator hash-verified end-to-end because its randomness is a seeded
    hash, not RNG state."""
    walk_nos = ", ".join(f"'{i}'" for i in range(n_walks))
    sql = f"""
            , seeds AS (SELECT DISTINCT subj AS seed_node FROM edges),
            s0 AS (
              SELECT seed_node || '#' || n AS walk_id, seed_node,
                     seed_node AS cur, seed_node AS path, 0 AS steps
              FROM seeds CROSS JOIN (SELECT unnest([{walk_nos}]) AS n) t
            )"""
    for step in range(1, walk_len + 1):
        sql += f"""
            , s{step} AS (
              SELECT walk_id, seed_node,
                     COALESCE(obj, cur) AS cur,
                     CASE WHEN obj IS NULL THEN path
                          ELSE path || '->' || obj END AS path,
                     CASE WHEN obj IS NULL THEN steps
                          ELSE steps + 1 END AS steps
              FROM (
                SELECT w.walk_id, w.seed_node, w.cur, w.path, w.steps, e.obj,
                       ROW_NUMBER() OVER (PARTITION BY w.walk_id
                         ORDER BY md5(concat_ws('|', '{seed}', w.walk_id,
                                                '{step}', e.obj)) ASC NULLS LAST,
                                  e.obj ASC NULLS LAST) AS rn
                FROM s{step - 1} w LEFT JOIN edges e ON e.subj = w.cur
              ) q WHERE rn = 1
            )"""
    sql += f"""
            SELECT walk_id, seed_node, path AS walk,
                   CAST(steps AS INTEGER) AS steps
            FROM s{walk_len}
    """
    return sql


# the EXACT Python str.strip() whitespace set (full Unicode -- U+3000,
# NBSP, \x85, \x1c-\x1f, the U+2000 block, ...), embedded as a SQL string
# literal so every oracle that mirrors a Python .strip()/.isspace() seam
# trims the identical character set. The 6-char ASCII set silently
# diverges on CJK corpora (U+3000 ideographic space); single-sourced here
# so the sites can never drift apart.
_SQL_PY_WS = (
    "'"
    + "".join(chr(c) for c in range(0x3001) if chr(c).isspace()).replace("'", "''")
    + "'"
)


def _paper_oracle_sql() -> str:
    """DuckDB replay of operators/paper.py ``_parse_doc`` over the persisted
    prepared paper source (split lineage): the stateful per-doc scan becomes
    line/window algebra --

      * T4 sectioning: ``re.split(r'(?=\\n##?\\s)')`` == group lines by a
        running count of heading-line starts (zero-width split => the
        heading line opens its section; RE2 has no lookahead, the line
        model needs none);
      * part-header / source-tag carry == ``last_value(... IGNORE NULLS)``
        over sections in document order (the walk's only state);
      * T5 anchors: lazy ``(?=##|$)`` lookaheads == cut at the first
        ``strpos`` occurrence (identical semantics: shortest prefix);
      * inline-【解析】 precedence, J5 type rules (ordered CASE), F5/F6
        option predicate, and the T7 ###/numbered sub-split (sentinel
        regexp_replace emulating the zero-width split) replay 1:1;
      * the running q_index == row_number over (section, sub) order.

    Parity envelope (all pinned by tests/test_paper.py, none reachable on
    the deterministic fixture corpus): the GEO grammar branch (a level-1
    section carrying 【答案】) is not replayed -- the fixture's level-1
    sections are part headers only; heading detection assumes the heading
    marker is followed by horizontal whitespace (the reference's own
    format); whitespace classes are spelled explicitly (Java \\s includes
    \\x0B, RE2's does not); a bare ``\\nN.\\nM.`` empty numbered item would
    shift one split point (the sentinel consumes the lookahead's first
    whitespace char) -- absent from the fixture's bodies."""
    ws = _SQL_PY_WS  # the exact Python str.strip() whitespace set
    hws = "[ \\t\\x0b\\f\\r]"   # horizontal whitespace (python \\s minus \\n)
    aws = "[ \\t\\n\\x0b\\f\\r]"  # python \\s, spelled out
    return f"""
            WITH src AS (
              SELECT repo, path, "commit", sha, doc_id,
                     trim(content, {ws}) AS body
              FROM read_parquet('{_SPLIT_DIR}/paper_src/*.parquet')
            ),
            lines AS (
              SELECT doc_id, i, ls[i] AS line
              FROM (SELECT doc_id, ls,
                           unnest(generate_series(1, len(ls))) AS i
                    FROM (SELECT doc_id, string_split(body, chr(10)) AS ls
                          FROM src))
            ),
            marked AS (
              SELECT doc_id, i, line,
                     CASE WHEN regexp_matches(line, '^##?{hws}')
                          THEN 1 ELSE 0 END AS is_start
              FROM lines
            ),
            secid AS (
              SELECT *, SUM(is_start) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS sec_id
              FROM marked
            ),
            secs0 AS (
              SELECT doc_id, sec_id,
                     string_agg(line, chr(10) ORDER BY i) AS sec_text,
                     MIN(CASE WHEN is_start = 1 THEN line END) AS head_line
              FROM secid GROUP BY doc_id, sec_id
            ),
            secs AS (
              SELECT *,
                     (head_line IS NOT NULL
                      AND regexp_matches(head_line, '^#{hws}')) AS is_l1
              FROM secs0
              WHERE length(trim(sec_text, {ws})) > 0
            ),
            carried AS (
              SELECT *,
                     last_value(CASE WHEN is_l1 THEN head_line END
                                IGNORE NULLS)
                       OVER (PARTITION BY doc_id ORDER BY sec_id
                             ROWS UNBOUNDED PRECEDING) AS part_header,
                     last_value(CASE WHEN is_l1 THEN
                         nullif(regexp_extract(
                           substring(chr(10) || sec_text, 1, 100),
                           '【([^】]*[0-9]{{4}}[^】]*)】', 1), '') END
                                IGNORE NULLS)
                       OVER (PARTITION BY doc_id ORDER BY sec_id
                             ROWS UNBOUNDED PRECEDING) AS source_tag
              FROM secs
            ),
            parsed AS (
              SELECT doc_id, sec_id, sec_text, part_header, source_tag,
                     regexp_extract(sec_text,
                       '(?s)##{aws}*(.*?)【答案】', 1) AS q,
                     strpos(sec_text, '【答案】') AS pos_a,
                     strpos(sec_text, '【解析】') AS pos_x
              FROM carried
              WHERE NOT is_l1 AND head_line IS NOT NULL
                AND regexp_matches(sec_text, '(?s)##{aws}*.*?【答案】')
            ),
            anchored AS (
              SELECT *,
                     substring(sec_text, pos_a + 4) AS rest_a,
                     CASE WHEN pos_x > 0
                          THEN substring(sec_text, pos_x + 4) END AS rest_x
              FROM parsed
            ),
            cut AS (
              SELECT *,
                trim(CASE WHEN strpos(rest_a, '##') > 0
                          THEN substring(rest_a, 1, strpos(rest_a, '##') - 1)
                          ELSE rest_a END, {ws}) AS answer_raw,
                CASE WHEN rest_x IS NULL THEN NULL
                     ELSE trim(CASE
                       WHEN strpos(rest_x, '##') > 0 AND strpos(rest_x, '【') > 0
                         THEN substring(rest_x, 1,
                                least(strpos(rest_x, '##'),
                                      strpos(rest_x, '【')) - 1)
                       WHEN strpos(rest_x, '##') > 0
                         THEN substring(rest_x, 1, strpos(rest_x, '##') - 1)
                       WHEN strpos(rest_x, '【') > 0
                         THEN substring(rest_x, 1, strpos(rest_x, '【') - 1)
                       ELSE rest_x END, {ws}) END AS analysis_blk
              FROM anchored
            ),
            resolved AS (
              SELECT *,
                CASE WHEN strpos(answer_raw, '【解析】') > 0
                     THEN trim(substring(answer_raw, 1,
                               strpos(answer_raw, '【解析】') - 1), {ws})
                     ELSE answer_raw END AS answer,
                CASE WHEN strpos(answer_raw, '【解析】') > 0 THEN
                       CASE WHEN trim(substring(answer_raw,
                                 strpos(answer_raw, '【解析】') + 4), {ws}) <> ''
                            THEN trim(substring(answer_raw,
                                 strpos(answer_raw, '【解析】') + 4), {ws})
                            ELSE nullif(analysis_blk, '') END
                     ELSE analysis_blk END AS analysis
              FROM cut
            ),
            typed AS (
              SELECT *,
                CASE
                  WHEN contains(coalesce(part_header, ''), '完形填空')
                    OR contains(substring(q, 1, 200), '完形填空')
                    THEN '完形填空'
                  WHEN contains(coalesce(part_header, ''), '七选五')
                    OR contains(substring(q, 1, 200), '七选五')
                    THEN '阅读理解七选五'
                  WHEN contains(coalesce(part_header, ''), '阅读理解')
                    OR contains(substring(q, 1, 200), '阅读理解')
                    THEN '阅读理解'
                  WHEN contains(coalesce(part_header, ''), '语法填空')
                    OR contains(substring(q, 1, 200), '语法填空')
                    THEN '语法填空'
                END AS rule_type,
                regexp_matches(q,
                  '(?m)^{hws}*[ABCD][.、]{aws}') AS opt_hit
              FROM resolved
            ),
            classified AS (
              SELECT *,
                coalesce(rule_type,
                  CASE WHEN opt_hit THEN '选择题'
                       ELSE '非选择题' END) AS question_type,
                (rule_type IS NULL AND opt_hit) AS is_choice
              FROM typed
            ),
            split0 AS (
              SELECT *,
                string_split(
                  regexp_replace(
                    regexp_replace(q, '(?m)^###{aws}+', chr(1), 'g'),
                    chr(10) || '([0-9]+[.、]{aws})', chr(1) || '\\1', 'g'),
                  chr(1)) AS parts
              FROM classified
            ),
            split1 AS (
              SELECT *,
                trim(parts[1], {ws}) AS question_text,
                list_filter(list_transform(parts[2:],
                            x -> trim(x, {ws})), x -> x <> '') AS subs
              FROM split0
            ),
            exploded AS (
              SELECT doc_id, sec_id, question_text, answer, analysis,
                     source_tag, question_type, is_choice,
                     unnest(CASE WHEN len(subs) = 0
                                 THEN [question_text] ELSE subs END)
                       AS question,
                     generate_subscripts(CASE WHEN len(subs) = 0
                                 THEN [question_text] ELSE subs END, 1)
                       AS sub_i
              FROM split1
            )
            SELECT s.repo, s.path, s."commit", s.sha, e.doc_id,
                   CAST(row_number() OVER (PARTITION BY e.doc_id
                        ORDER BY e.sec_id, e.sub_i) - 1 AS INT) AS q_index,
                   e.question_text, e.question, e.answer, e.analysis,
                   e.source_tag, e.question_type, e.is_choice
            FROM exploded e JOIN src s USING (doc_id)
    """


def _pagerank_oracle_sql(iters: int = 8, damping: float = 0.85) -> str:
    """DuckDB replay of operators/graph.py ``pagerank`` over the fixture
    edge set (appended after ``_graph_edges_cte``): each damped iteration
    unrolled — out-degree-weighted contribution sum, uniform dangling
    redistribution, ROUND(·, 9) per round. The 9-dp rounding makes the
    float fixpoint reduction-order-independent on both engines, so the
    hash compare is exact (same argument as tests/test_graph.py's replay,
    here promoted into the driver contract)."""
    # every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and each
    # unrolled iteration references its predecessor twice (contribution join
    # + dangling probe) -- inlined, the edge-derivation subtree expands
    # 2^iters times and the oracle takes minutes; materialized it runs in
    # milliseconds
    iters_sql = ""
    for t in range(1, iters + 1):
        p = t - 1
        iters_sql += f"""
            , contrib{t} AS MATERIALIZED (
              SELECT e.dst AS node, SUM(r.rank * e.w) AS c
              FROM w_edges e JOIN r{p} r ON e.node = r.node GROUP BY e.dst
            ), dang{t} AS MATERIALIZED (
              SELECT COALESCE(SUM(rank), 0.0) AS d FROM r{p}
              WHERE node NOT IN (SELECT node FROM out_deg)
            ), r{t} AS MATERIALIZED (
              SELECT n.node,
                     ROUND((1 - {damping}) / nn.n
                           + {damping} * (COALESCE(c.c, 0.0)
                                     + (SELECT d FROM dang{t}) / nn.n), 9) AS rank
              FROM nodes n CROSS JOIN ncount nn
              LEFT JOIN contrib{t} c ON n.node = c.node
            )"""
    return f"""
            , pr_e AS MATERIALIZED (SELECT subj AS src, obj AS dst FROM edges),
            nodes AS MATERIALIZED (
              -- explicit outer DISTINCT: under a WITH RECURSIVE header
              -- DuckDB runs a bare UNION between branches as UNION ALL
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM pr_e
                UNION ALL
                SELECT dst FROM pr_e
              )
            ),
            ncount AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            out_deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg
                        FROM pr_e GROUP BY src),
            w_edges AS MATERIALIZED (SELECT pr_e.src AS node, pr_e.dst, 1.0 / d.deg AS w
                        FROM pr_e JOIN out_deg d ON pr_e.src = d.node),
            r0 AS MATERIALIZED (
              SELECT node, 1.0 / (SELECT n FROM ncount) AS rank FROM nodes)
            {iters_sql}
            SELECT node, rank FROM r{iters}
    """


def _simhash_fingerprint_sql() -> str:
    """Shared CTE chain (words → fp) recomputing operators/dedup.py
    ``_simhash_batch`` fingerprints in DuckDB: ASCII case-fold + ASCII-ws split
    (the three-engine-parity tokenizer, see dedup.py ``_ASCII_LOWER_TAB``),
    bit i of the md5-based word hash read from hex nibble 16 - i//4 at
    in-nibble position i%4, sign votes summed with occurrence multiplicity,
    the unsigned fingerprint packed by the >0 vote threshold, and the
    signed LongType twin u - 2^63. Used by BOTH the dedup_simhash oracle
    and the pytest bit-layout parity test, so the test can never drift
    from the shipped SQL."""
    return r"""
            WITH words AS (
              SELECT doc_id,
                     unnest(list_filter(
                       string_split_regex(
                         translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   'abcdefghijklmnopqrstuvwxyz'),
                         '[ \t\n\x0B\f\r]+'),
                       w -> w <> '')) AS w
              FROM documents
            ), wcount AS (
              SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
            ), dw AS (
              SELECT DISTINCT w FROM wcount
            ), wb AS (
              SELECT w, b.i AS bit,
                     CASE WHEN ((strpos('0123456789abcdef',
                                substr(md5(w), CAST(16 - (b.i // 4) AS INTEGER), 1))
                                - 1) >> (b.i % 4)) & 1 = 1
                          THEN 1 ELSE -1 END AS sgn
              FROM dw CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b
            ), acc AS (
              SELECT wc.doc_id, wb.bit, SUM(wb.sgn * wc.c) AS s
              FROM wcount wc JOIN wb ON wb.w = wc.w
              GROUP BY wc.doc_id, wb.bit
            ), fp_u AS (
              SELECT doc_id,
                     SUM(CASE WHEN s > 0
                              THEN CAST(1 AS HUGEINT) << CAST(bit AS INTEGER)
                              ELSE CAST(0 AS HUGEINT) END) AS u
              FROM acc GROUP BY doc_id
            ), fp AS (
              SELECT d.doc_id AS id,
                     COALESCE(f.u, CAST(0 AS HUGEINT)) AS u,
                     CAST(COALESCE(f.u, CAST(0 AS HUGEINT))
                          - (CAST(1 AS HUGEINT) << 63) AS BIGINT) AS simhash
              FROM documents d LEFT JOIN fp_u f USING (doc_id)
            )"""


def _minhash_oracle_sql(
    threshold: float = 0.5,
    n_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 200,
    sig_margin: float = 0.2,
) -> str:
    """DuckDB replay of operators/dedup.py ``minhash_near_dups`` — the LSH
    scale path itself hash-verified end-to-end, not just its exact-Jaccard
    verify metric (dedup_ngram covers that):

    * gram hash: first 8 md5 bytes >> 3, recomputed from hex nibbles
      (``linking._block_minhash``'s engine-portable basis);
    * permutations: the seeded ``_perm_params`` (a, b) constants inlined as
      a VALUES CTE — deterministic parameters of the operator, exactly like
      the walk oracle inlines its seed;
    * the permuted value replays numpy int64 semantics bit-for-bit: the
      product wraps mod 2^64 into a SIGNED value (numpy silently overflows
      int64), then ``% P`` is FLOORED (numpy/Python sign convention), so
      the emulation is wrap -> reinterpret-signed -> ((x % P) + P) % P;
    * banding joins on the comma-joined 4-slice VALUE where Spark joins on
      xxhash64 of that string — equal strings give equal hashes, so the
      replay diverges only on a 2^-64 hash collision between distinct
      slices (and such a phantom candidate would still have to pass the
      exact-Jaccard verify to change the output);
    * bucket cap, min-id star pairs, the zip_with signature prefilter
      (>= threshold - sig_margin, same float64 literal arithmetic), and
      the exact word-3-shingle Jaccard verify replay 1:1. Exact-dup
      pre-collapse needs no replay: identical texts get identical
      signatures, so the collapsed and direct paths emit the same pairs.
    """
    from textchunking_and_knowledgegraph_spark.operators.linking import (
        _perm_params,
    )

    a, b = _perm_params(n_perm)
    rows = n_perm // bands
    perm_vals = ",\n                  ".join(
        f"({k}, {int(a[k])}, {int(b[k])})" for k in range(n_perm)
    )
    band_ids = ", ".join(str(i) for i in range(bands))
    prefilter = threshold - sig_margin  # same float64 arithmetic as Spark
    return rf"""
            WITH perms(perm, a, b) AS (VALUES
                  {perm_vals}),
            d AS (
              SELECT doc_id AS id,
                     list_filter(
                       string_split_regex(
                         translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   'abcdefghijklmnopqrstuvwxyz'),
                         '[ \t\n\x0B\f\r]+'),
                       w -> w <> '') AS words
              FROM documents
            ),
            sh AS (
              SELECT id,
                     CASE WHEN len(words) >= 3 THEN
                       list_distinct(list_transform(range(1, len(words) - 1),
                         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                     WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
                     ELSE [] END AS sh
              FROM d
            ),
            doc_gram AS (SELECT id, unnest(sh) AS g FROM sh),
            gh AS (
              SELECT g,
                     (list_sum(list_transform(range(1, 17),
                        p -> CAST(strpos('0123456789abcdef',
                                  substr(md5(g), CAST(p AS INTEGER), 1)) - 1
                               AS HUGEINT)
                             << CAST(4 * (16 - p) AS INTEGER))) >> 3) AS h
              FROM (SELECT DISTINCT g FROM doc_gram)
            ),
            gv AS (
              SELECT gh.g, perms.perm,
                     (((CASE WHEN (perms.a * (gh.h % 2305843009213693951))
                                  % 18446744073709551616
                                  >= 9223372036854775808
                             THEN (perms.a * (gh.h % 2305843009213693951))
                                  % 18446744073709551616
                                  - 18446744073709551616
                             ELSE (perms.a * (gh.h % 2305843009213693951))
                                  % 18446744073709551616
                        END % 2305843009213693951) + 2305843009213693951)
                      % 2305843009213693951 + perms.b)
                     % 2305843009213693951 AS v
              FROM gh CROSS JOIN perms
            ),
            sig_rows AS (
              SELECT dg.id, gv.perm, CAST(MIN(gv.v) AS BIGINT) AS s
              FROM doc_gram dg JOIN gv ON gv.g = dg.g
              GROUP BY dg.id, gv.perm
            ),
            sigs AS (
              -- every doc gets a signature; gram-less docs are all-zero
              SELECT d.id,
                     COALESCE(sl.sl,
                              list_transform(range(0, {n_perm}),
                                             x -> CAST(0 AS BIGINT))) AS sl
              FROM d LEFT JOIN (
                SELECT id, list(s ORDER BY perm) AS sl
                FROM sig_rows GROUP BY id
              ) sl USING (id)
            ),
            bd AS (
              SELECT id, b.band_id,
                     array_to_string(
                       sl[{rows} * b.band_id + 1 : {rows} * b.band_id + {rows}],
                       ',') AS band_key
              FROM sigs CROSS JOIN
                   (SELECT unnest([{band_ids}]) AS band_id) b
            ),
            buckets AS (
              SELECT band_id, band_key, COUNT(*) AS bsz,
                     MIN(id) AS bucket_rep
              FROM bd GROUP BY band_id, band_key
            ),
            small AS (
              SELECT bd.id, bd.band_id, bd.band_key
              FROM bd JOIN buckets USING (band_id, band_key)
              WHERE buckets.bsz <= {max_bucket}
            ),
            quad_pairs AS (
              SELECT l.id AS id_a, r.id AS id_b
              FROM small l
              JOIN small r ON l.band_id = r.band_id
                          AND l.band_key = r.band_key AND l.id < r.id
            ),
            star_pairs AS (
              SELECT bk.bucket_rep AS id_a, bd.id AS id_b
              FROM bd JOIN buckets bk USING (band_id, band_key)
              WHERE bk.bsz > {max_bucket} AND bd.id <> bk.bucket_rep
            ),
            pairs AS (
              SELECT DISTINCT id_a, id_b FROM
                (SELECT * FROM quad_pairs UNION ALL SELECT * FROM star_pairs)
            ),
            survivors AS (
              SELECT p.id_a, p.id_b
              FROM pairs p
              JOIN sigs sa ON sa.id = p.id_a
              JOIN sigs sb ON sb.id = p.id_b
              WHERE list_sum(list_transform(range(1, {n_perm} + 1),
                      i -> CASE WHEN sa.sl[i] = sb.sl[i] THEN 1 ELSE 0 END))
                    / {float(n_perm)} >= {prefilter!r}
            ),
            verified AS (
              SELECT s.id_a, s.id_b,
                     CASE WHEN len(list_distinct(
                                  list_concat(ga.sh, gb.sh))) = 0 THEN 0.0
                          ELSE len(list_intersect(ga.sh, gb.sh))
                               / CAST(len(list_distinct(
                                   list_concat(ga.sh, gb.sh))) AS DOUBLE)
                     END AS jaccard
              FROM survivors s
              JOIN sh ga ON ga.id = s.id_a
              JOIN sh gb ON gb.id = s.id_b
            )
            SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
            FROM verified WHERE jaccard >= {threshold!r}
    """


# DuckDB CTE producing the posting table (term, doc_id, tf) from the
# documents view -- 1:1 mirror of operators/postings.py ``tokenize`` +
# ``build_postings``: lowercase latin/digit runs unioned with CJK char
# bigrams (单字 runs emit themselves), then the (term, doc_id) count.
_POSTINGS_SQL = r"""
            WITH posts AS (
              SELECT t AS term, doc_id, COUNT(*) AS tf
              FROM (
                SELECT doc_id, unnest(list_concat(
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              tk -> tk <> ''),
                  flatten(list_transform(regexp_extract_all(text, '[一-鿿]+'),
                    r -> CASE WHEN length(r) = 1 THEN [r]
                         ELSE list_transform(range(1, length(r)),
                                             i -> substring(r, i, 2)) END))
                )) AS t
                FROM documents
              )
              GROUP BY 1, 2
            )
"""


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in _STOP)
    return {
        "q01_filter_project": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE length(trim(text)) > 0 AND lang = 'zh'
        """,
        "q02_doc_transforms": r"""
            SELECT doc_id,
                   translate(text, '．（），', '.(),') AS norm_text,
                   sha256(text) AS sha,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                   regexp_replace(text, '[^一-鿿]', '', 'g') AS cjk
            FROM documents
        """,
        "q05_token_lang": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
                   CASE
                     WHEN length(text) > 0
                          AND len(regexp_extract_all(text, '[一-鿿]')) / length(text) > 0.3
                       THEN 'zh'
                     WHEN len(regexp_extract_all(text, '[A-Za-z]')) > 0 THEN 'en'
                     ELSE 'unknown'
                   END AS lang_id,
                   CAST(ceil((length(text) - len(regexp_extract_all(text, '[一-鿿]'))) / 4.0)
                        + len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS tok_est
            FROM documents
        """,
        # NOTE: every outer SUM below is wrapped CAST(... AS BIGINT): DuckDB
        # widens SUM(BIGINT) to HUGEINT, which pandas renders as float64 and
        # the driver canonicalizer then hashes differently from Spark's long.
        "q09_doc_stats": """
            WITH agg AS (
              SELECT lang, COUNT(*) AS cnt,
                     CAST(SUM(n_chars) AS BIGINT) AS sum_c,
                     CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_sq
              FROM documents GROUP BY lang
            )
            SELECT lang, cnt, sum_c,
                   ROUND(CAST(sum_c AS DOUBLE) / cnt, 6) AS avg_chars,
                   ROUND((CAST(sum_sq AS DOUBLE) - CAST(sum_c AS DOUBLE) * sum_c / cnt)
                         / (cnt - 1), 4) AS var_chars
            FROM agg
        """,
        "q10_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                     AS sum_qty_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS sum_price_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                        AS BIGINT) AS sum_disc_price_cents,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q11_revenue_by_nation": """
            SELECT n_name,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS revenue_cents,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q12_anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        # IVF-ANN with the Lloyd's fit itself inside the verified surface
        "ann_ivf_topk": _ivf_oracle_sql(),
        # SRP-ANN with the sign bucketing itself inside the verified surface
        # (dyadic-quantized planes over the exact-arithmetic fixture)
        "ann_srp_topk": _srp_oracle_sql(),
        "q14_top_order_per_cust": """
            SELECT o_custkey, o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM orders
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) = 1
        """,
        "q15_top_event_per_user": """
            WITH votes AS (
              SELECT user_id, event_type, COUNT(*) AS freq
              FROM events GROUP BY user_id, event_type
            )
            SELECT user_id, event_type, freq FROM votes
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY freq DESC, event_type ASC) = 1
        """,
        "q16_set_ops": """
            WITH u AS (
              SELECT DISTINCT nationkey AS key FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT s_nationkey AS nationkey FROM supplier
              )
            ), i AS (
              SELECT c_nationkey AS key FROM customer
              INTERSECT
              SELECT s_nationkey AS key FROM supplier
            ), e AS (
              SELECT o_custkey AS key FROM orders
              EXCEPT
              SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
            )
            SELECT 'union' AS setop, CAST(key AS BIGINT) AS key FROM u
            UNION ALL
            SELECT 'intersect' AS setop, CAST(key AS BIGINT) AS key FROM i
            UNION ALL
            SELECT 'except' AS setop, CAST(key AS BIGINT) AS key FROM e
        """,
        "q19_exact_dedup": """
            WITH withsha AS (
              SELECT doc_id AS id, sha256(COALESCE(text, '')) AS sha FROM documents
            ), groups AS (
              SELECT sha, COUNT(*) AS group_size, MIN(id) AS keeper
              FROM withsha GROUP BY sha
            )
            SELECT id, w.sha, group_size, (id = keeper) AS keep
            FROM withsha w JOIN groups g ON w.sha = g.sha
        """,
        "q20_event_hourly": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "q21_ann_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            ), q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     ROUND(list_dot_product(q.q_emb, e.emb)
                           / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                              * sqrt(list_dot_product(e.emb, e.emb))), 6) AS cosine
              FROM e CROSS JOIN q
              WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
        """,
        "q22_embedding_near_dups": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.emb, b.emb)
                         / (sqrt(list_dot_product(a.emb, a.emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb))) >= 0.45
        """,
        # quality mirrors functions/textfns.py quality_score exactly:
        # length_ok*0.4 + punct_ok*0.3 + stop_ok*0.3 with the QUALITY punct
        # class (incl. quotes/backtick -- wider than the punct_ratio column
        # above) and the language-aware stop signal (zh -> function-char
        # density over CJK chars; else English stopword token ratio).
        "q23_quality_metrics": rf"""
            SELECT doc_id,
                   ROUND(CASE WHEN length(text) > 0
                     THEN len(regexp_extract_all(text, '[\.,;:!\?\(\)\[\]\{{\}}]'))
                          / length(text) ELSE 0.0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                     THEN length(regexp_replace(text, '\s+', '', 'g'))
                          / len(regexp_extract_all(text, '\S+')) ELSE 0.0 END, 6)
                     AS mean_word_len,
                   ROUND(CASE WHEN len(toks) > 0
                     THEN CAST(len(list_filter(toks, t -> list_contains([{stop_list}], t)))
                          AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS stop_ratio,
                   ROUND(CASE WHEN len(nlines) > 0
                     THEN CAST(len(nlines) - len(list_distinct(nlines)) AS DOUBLE)
                          / len(nlines) ELSE 0.0 END, 6) AS dup_line_frac,
                   ROUND(
                     (CASE WHEN length(text) >= 200 THEN 1.0
                           ELSE CAST(length(text) AS DOUBLE) / 200.0 END) * 0.4
                     + (1.0 - LEAST(CAST(1.0 AS DOUBLE),
                         (CASE WHEN length(text) > 0
                           THEN len(regexp_extract_all(text,
                                '[\.,;:!\?\(\)\[\]\{{\}}"''`]')) / length(text)
                           ELSE 0.0 END) * 5)) * 0.3
                     + LEAST(CAST(1.0 AS DOUBLE),
                         (CASE WHEN (CASE WHEN length(text) > 0
                                 THEN cjk_cnt / length(text) ELSE 0.0 END) > 0.3
                           THEN (CASE WHEN cjk_cnt > 0
                                 THEN func_cnt / CAST(cjk_cnt AS DOUBLE)
                                 ELSE 0.0 END)
                           ELSE (CASE WHEN len(toks) > 0
                                 THEN CAST(len(list_filter(toks,
                                      t -> list_contains([{stop_list}], t)))
                                      AS DOUBLE) / len(toks)
                                 ELSE 0.0 END) END) * 4) * 0.3,
                     6) AS quality
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
                         list_filter(string_split(text, chr(10)),
                                     x -> length(trim(x)) > 0) AS nlines,
                         len(regexp_extract_all(text, '[一-鿿]')) AS cjk_cnt,
                         len(regexp_extract_all(text,
                             '[的了是在和就不都也很到要去说着对与被把让从]'))
                           AS func_cnt
                  FROM documents)
        """,
        # --- PageRank replayed iteration-by-iteration over the derived
        # fixture edge set (promoted from tests/test_graph.py's replay) ---
        "graph_pagerank": _graph_edges_cte + _pagerank_oracle_sql(iters=8),
        "q26_star_revenue": """
            SELECT c_mktsegment,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q27_sequential_ord": """
            SELECT event_id, user_id,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS INT) AS ord
            FROM events
        """,
        # posting-table tokenization shared by q31/q35 (mirrors
        # operators/postings.py tokenize: latin/digit runs + CJK char
        # bigrams). The driver corpus is latin-only, so the CJK arm is a
        # verified no-op here; its zh behavior is pinned against the same
        # SQL in tests/test_postings.py::test_cjk_tokenizer_matches_duckdb_oracle.
        "q31_fuzzy_search": _POSTINGS_SQL + """
            , cand AS (
              SELECT DISTINCT term FROM posts
              WHERE abs(length(term) - length('sparc')) <= 1
                AND levenshtein(term, 'sparc') <= 1
            )
            SELECT p.term, p.doc_id, p.tf FROM posts p JOIN cand USING (term)
        """,
        "q32_match_phrase": """
            SELECT source, COUNT(*) AS hits FROM documents
            WHERE contains(text, 'spark table')
            GROUP BY source
        """,
        "q33_vocab_containment": """
            SELECT DISTINCT doc_id, term
            FROM documents, (VALUES ('spark'), ('vector'), ('window'), ('stream')) AS v(term)
            WHERE contains(text, term)
        """,
        "q34_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 3600
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            )
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "q28_distinct_count": """
            SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events FROM events
        """,
        "q29_events_filtered_agg": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events
            WHERE event_type IN ('click', 'purchase') AND value > 10.0
            GROUP BY event_type
        """,
        # exact mirror of normalize_markdown = translate_fullwidth(
        # drop_publisher_noise(col)) — NO de-hyphenation / CJK fusing, both
        # are paper-path-only repairs (functions/normalize.py:65-73)
        "q30_normalize_markdown": r"""
            SELECT doc_id,
              translate(
                regexp_replace(text, '(?m)^#+\s*人民教育出版社.*\n?', '', 'g'),
                '．（），', '.(),') AS norm
            FROM documents
        """,
        "q35_es_postings": _POSTINGS_SQL + """
            SELECT term, doc_id, tf FROM posts
        """,
        # --- graph reads over the deterministic hierarchy fixture: DuckDB
        # derives the edge set from the inlined lineage paths and computes
        # each traversal independently (WITH RECURSIVE), so these four
        # former rows-only entries are now hash-verified ---
        "dict_hierarchy": _graph_edges_cte + """
            SELECT subj, pred, obj,
                   '数学实体' AS subj_type, '数学实体' AS obj_type
            FROM edges
        """,
        "graph_neighbors": _graph_edges_cte + """
            SELECT obj AS neighbor, pred FROM edges
            WHERE subj = '函数的概念' AND pred = '下位'
            ORDER BY neighbor LIMIT 10
        """,
        "graph_multi_hop": _graph_edges_cte + """
            , walk(node, hop) AS (
              SELECT CAST('集合与函数' AS VARCHAR), CAST(0 AS INTEGER)
              UNION ALL
              SELECT e.obj, w.hop + 1 FROM walk w
              JOIN edges e ON e.subj = w.node
              WHERE w.hop < 3
            )
            SELECT node, MIN(hop) AS hop FROM walk
            GROUP BY node HAVING MIN(hop) > 0
        """,
        # two label-propagation rounds replayed declaratively: per-round
        # neighbor vote (freq desc, label asc tie-break) + keep-own-label
        # fallback -- mirrors graph.label_propagation_round exactly
        "graph_label_prop": _graph_edges_cte + """
            , nodes AS (
              -- explicit outer DISTINCT: under a WITH RECURSIVE header
              -- DuckDB ran a bare UNION between these branches as UNION ALL
              SELECT DISTINCT node FROM (
                SELECT subj AS node FROM edges
                UNION ALL
                SELECT obj AS node FROM edges
              )
            ),
            sym AS (
              SELECT subj AS node, obj AS nbr FROM edges
              UNION ALL
              SELECT obj AS node, subj AS nbr FROM edges
            ),
            l0 AS (SELECT node, node AS label FROM nodes),
            w1 AS (
              SELECT s.node, l.label, COUNT(*) AS freq
              FROM sym s JOIN l0 l ON l.node = s.nbr
              GROUP BY 1, 2
              QUALIFY ROW_NUMBER() OVER (
                PARTITION BY s.node ORDER BY COUNT(*) DESC, l.label ASC) = 1
            ),
            l1 AS (
              SELECT l0.node, COALESCE(w1.label, l0.label) AS label
              FROM l0 LEFT JOIN w1 USING (node)
            ),
            w2 AS (
              SELECT s.node, l.label, COUNT(*) AS freq
              FROM sym s JOIN l1 l ON l.node = s.nbr
              GROUP BY 1, 2
              QUALIFY ROW_NUMBER() OVER (
                PARTITION BY s.node ORDER BY COUNT(*) DESC, l.label ASC) = 1
            )
            SELECT l1.node, COALESCE(w2.label, l1.label) AS label
            FROM l1 LEFT JOIN w2 USING (node)
        """,
        "graph_lca": _graph_edges_cte + f"""
            , anc_a(node, depth) AS (
              SELECT e.subj, CAST(1 AS INTEGER) FROM edges e
              WHERE e.pred = '下位' AND e.obj = '{_graph_probe_a}'
              UNION ALL
              SELECT e.subj, a.depth + 1 FROM anc_a a
              JOIN edges e ON e.pred = '下位' AND e.obj = a.node
              WHERE a.depth < 4
            ),
            anc_b(node, depth) AS (
              SELECT e.subj, CAST(1 AS INTEGER) FROM edges e
              WHERE e.pred = '下位' AND e.obj = '{_graph_probe_b}'
              UNION ALL
              SELECT e.subj, b.depth + 1 FROM anc_b b
              JOIN edges e ON e.pred = '下位' AND e.obj = b.node
              WHERE b.depth < 4
            ),
            ma AS (SELECT node, MIN(depth) AS depth_a FROM anc_a GROUP BY node),
            mb AS (SELECT node, MIN(depth) AS depth_b FROM anc_b GROUP BY node)
            SELECT ma.node, depth_a, depth_b FROM ma JOIN mb USING (node)
            ORDER BY depth_a + depth_b ASC, ma.node ASC LIMIT 1
        """,
        # --- seeded random walk replayed step-by-step (md5-digest draws,
        # one CTE per lockstep step) over the same derived edge set ---
        "graph_random_walk": _graph_edges_cte + _walk_oracle_sql(
            walk_len=3, n_walks=2, seed=42
        ),
        # --- exact n-gram Jaccard baseline: DuckDB rebuilds the word
        # 3-shingle sets (lowercase, whitespace split, distinct windows;
        # <3-word docs collapse to one joined shingle) and replays the
        # all-pairs comparison; the threshold is an integer cross-multiply
        # on both sides so no float boundary can flip acceptance ---
        "dedup_ngram": r"""
            WITH d AS (
              SELECT doc_id AS id,
                     list_filter(
                       regexp_split_to_array(
                         translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   'abcdefghijklmnopqrstuvwxyz'),
                         '[ \t\n\x0B\f\r]+'),
                       w -> w <> '') AS words
              FROM documents
              WHERE length(trim(text)) > 0
            ), s AS (
              SELECT id,
                     CASE WHEN len(words) >= 3 THEN
                       list_distinct(list_transform(range(1, len(words) - 1),
                         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                     ELSE [array_to_string(words, ' ')] END AS sh
              FROM d
            ), p AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     len(list_intersect(a.sh, b.sh)) AS inter_n,
                     len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                       AS union_n
              FROM s a JOIN s b ON a.id < b.id
            )
            SELECT id_a, id_b,
                   CAST(inter_n AS BIGINT) AS inter_n,
                   CAST(union_n AS BIGINT) AS union_n,
                   ROUND(CAST(inter_n AS DOUBLE) / union_n, 6) AS jaccard
            FROM p
            WHERE inter_n * 100 >= 40 * union_n AND inter_n > 0
        """,
        # --- the LSH minhash scale path replayed end-to-end (signatures,
        # banding, skew cap + star pairs, prefilter, exact verify) — see
        # _minhash_oracle_sql for the numpy-int64 emulation argument ---
        "dedup_minhash": _minhash_oracle_sql(),
        # --- simhash near-dup replay: the fingerprint basis is md5 (first 8
        # bytes, big-endian), which DuckDB recomputes from hex nibbles —
        # bit i of word-hash h lives in nibble 16 - i//4 of md5(w) at
        # in-nibble position i%4 (the same engine-portable-hash trade the
        # random-walk draw makes). Sign votes are summed with occurrence
        # multiplicity (grouped per distinct word, weighted by count), the
        # >0 vote threshold packs the unsigned fingerprint, and the signed
        # LongType twin is u - 2^63. Banding (4 x 16-bit), the
        # max_bucket=200 skew cap, the hamming<=8 filter, and the hamming-0
        # star recovery all replay 1:1 against operators/dedup.py
        # simhash_near_dups. Duplicated (id_a, id_b) rows across the banded
        # and star branches always agree on hamming (identical simhash =>
        # xor 0 on both), so DISTINCT == Spark's dropDuplicates ---
        "dedup_simhash": _simhash_fingerprint_sql() + r""", bands AS (
              SELECT id, simhash,
                     b.band_id,
                     CAST((u >> (b.band_id * 16)) & 65535 AS BIGINT) AS band_val
              FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_id) b
            ), kept AS (
              SELECT id, simhash, band_id, band_val FROM bands
              QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) <= 200
            ), cand AS (
              SELECT DISTINCT l.id AS id_a, r.id AS id_b,
                              l.simhash AS sh_a, r.simhash AS sh_b
              FROM kept l
              JOIN kept r ON l.band_id = r.band_id
                         AND l.band_val = r.band_val AND l.id < r.id
            ), banded AS (
              SELECT id_a, id_b,
                     CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
              FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 8
            ), reps AS (
              SELECT simhash, MIN(id) AS rep FROM fp GROUP BY simhash
            ), stars AS (
              SELECT r.rep AS id_a, f.id AS id_b, CAST(0 AS INTEGER) AS hamming
              FROM fp f JOIN reps r USING (simhash) WHERE f.id <> r.rep
            )
            SELECT DISTINCT id_a, id_b, hamming FROM
              (SELECT * FROM banded UNION ALL SELECT * FROM stars)
        """,
        # --- multimodal decode verified end-to-end: payload bytes come from
        # ASCII document text (bytes == codepoints), so DuckDB can replay the
        # deterministic decoder — first/last-4-byte sums, frame count, and
        # the 16-bin byte histogram (np.histogram bins=16 range=(0,256) ==
        # x // 16 for ascii) — entirely in list algebra. The float division
        # happens in float64 on both sides, is narrowed to float32
        # identically (numpy astype vs CAST AS FLOAT, both IEEE
        # round-to-nearest-even), then upcast exactly to double ---
        # mm_features: image/audio rows carry REAL encoded BMP/WAV payloads
        # whose constant fill + dims are pure doc_id arithmetic -- the
        # oracle recomputes the DECODED values without decoding, so a hash
        # match proves the numpy codec recovered exactly what was encoded.
        # Video rows replay the fake-decode byte arithmetic as before.
        "mm_features": """
            WITH src AS (
              SELECT doc_id, CAST(doc_id AS VARCHAR) AS media_id,
                     CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 'image'
                                                 WHEN 1 THEN 'audio'
                                                 ELSE 'video' END AS kind,
                     substring(text, 1, 4096) AS t
              FROM documents
              WHERE lang = 'en'
                AND regexp_matches(text, '^[ -~]+$')
                AND length(text) >= 4
            ), vbyt AS (
              SELECT media_id, kind,
                     list_transform(range(1, length(t) + 1),
                                    i -> ascii(substring(t, i, 1))) AS arr
              FROM src WHERE kind = 'video'
            ), vagg AS (
              SELECT media_id, kind,
                     64 + (list_sum(arr[1:4]) % 512) AS width,
                     64 + (list_sum(arr[len(arr)-3:len(arr)]) % 512) AS height,
                     1 + (len(arr) % 32) AS n_frames,
                     list_transform(range(0, 16),
                       b -> CAST(CAST(CAST(len(list_filter(arr, x -> x // 16 = b))
                                           AS DOUBLE) / len(arr) AS FLOAT)
                            AS DOUBLE)) AS feat
              FROM vbyt
            ), ia AS (
              SELECT media_id, kind,
                     CASE kind
                       WHEN 'image' THEN 4 + ((doc_id % 13) + 13) % 13
                       ELSE 0 END AS width,
                     CASE kind
                       WHEN 'image' THEN 3 + ((doc_id % 7) + 7) % 7
                       ELSE 0 END AS height,
                     CASE kind
                       WHEN 'image' THEN 1
                       ELSE 8 + ((doc_id % 100) + 100) % 100 END AS n_frames,
                     CASE kind
                       WHEN 'image' THEN (((doc_id % 256) + 256) % 256) // 16
                       ELSE (((doc_id % 65536) + 65536) % 65536) // 4096
                     END AS hot
              FROM src WHERE kind IN ('image', 'audio')
            ), iagg AS (
              SELECT media_id, kind, width, height, n_frames,
                     list_transform(range(0, 16),
                       b -> CASE WHEN b = hot THEN 1.0 ELSE 0.0 END) AS feat
              FROM ia
            ), allrows AS (
              SELECT * FROM vagg UNION ALL SELECT * FROM iagg
            )
            SELECT media_id, kind,
                   CAST(width AS INTEGER) AS width,
                   CAST(height AS INTEGER) AS height,
                   CAST(n_frames AS INTEGER) AS n_frames,
                   feat[1] AS f00, feat[2] AS f01, feat[3] AS f02,
                   feat[4] AS f03, feat[5] AS f04, feat[6] AS f05,
                   feat[7] AS f06, feat[8] AS f07, feat[9] AS f08,
                   feat[10] AS f09, feat[11] AS f10, feat[12] AS f11,
                   feat[13] AS f12, feat[14] AS f13, feat[15] AS f14,
                   feat[16] AS f15
            FROM allrows
        """,
        # --- entity linking verified against an exact all-pairs replay:
        # DuckDB computes the char-2gram Jaccard top-1 per mention over the
        # FULL mention x entity cross product (no LSH), so a hash match
        # proves the banded-minhash candidate blocking dropped no top-1
        # link above min_score on the fixture ---
        "link_entities_lsh": _linking_cte + """
            SELECT mention, entity, score FROM scored
            WHERE score >= 0.30
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY mention ORDER BY score DESC, entity ASC) = 1
        """,
        # --- TOC extraction verified against a window-algebra replay of the
        # sequential walk (equivalence argument in _toc_oracle_sql) ---
        "kg_toc": _toc_oracle_sql(),
        # --- split-lineage oracles: the Spark callable materializes its
        # non-SQL upstream (chunker / extractor / paper parser output) to
        # /tmp/tckg_split parquet; DuckDB recomputes the relational
        # DOWNSTREAM from the same parquet, independently. The driver runs
        # the Spark side first, so the file is always fresh. ---
        # the flagship: facts (the one non-SQL stage) persisted, the entire
        # triple assembly recomputed independently
        "kg_triples": f"""
            WITH f AS (
              SELECT * FROM read_parquet('{_SPLIT_DIR}/triples_facts/*.parquet')
            ),
            spans AS (
              SELECT repo, path, "commit", sha, doc_id, unnest(spans) AS s
              FROM f
            ),
            hier AS (
              SELECT CASE WHEN s.is_root THEN s.section_title
                          ELSE s.parent_title END AS subj,
                     CASE WHEN s.is_root THEN '同位' ELSE '上位' END AS pred,
                     s.section_title AS obj,
                     'section' AS subj_type, 'section' AS obj_type,
                     repo, path, "commit", sha, CAST(NULL AS VARCHAR) AS chunk_id
              FROM spans WHERE s."level" > 0
            ),
            block AS (
              SELECT CASE WHEN s."level" > 0 THEN s.section_title
                          ELSE path END AS subj,
                     CASE WHEN s."level" > 0 THEN '文本块'
                          ELSE 'contains_chunk' END AS pred,
                     doc_id || ':' || CAST(s.ord AS VARCHAR) AS obj,
                     CASE WHEN s."level" > 0 THEN 'section'
                          ELSE 'file' END AS subj_type,
                     'chunk' AS obj_type,
                     repo, path, "commit", sha,
                     doc_id || ':' || CAST(s.ord AS VARCHAR) AS chunk_id
              FROM spans
            ),
            content AS (
              SELECT t.subj, t.pred, t.obj, t.subj_type, t.obj_type,
                     repo, path, "commit", sha, CAST(NULL AS VARCHAR) AS chunk_id
              FROM (SELECT repo, path, "commit", sha, unnest(trips) AS t FROM f)
            ),
            allt AS (
              SELECT * FROM hier
              UNION ALL SELECT * FROM block
              UNION ALL SELECT * FROM content
            )
            SELECT subj, pred, obj, subj_type, obj_type, repo, path,
                   "commit", sha, chunk_id
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY subj, pred, obj, sha
                ORDER BY subj_type ASC NULLS FIRST, obj_type ASC NULLS FIRST,
                         repo ASC NULLS FIRST, path ASC NULLS FIRST,
                         "commit" ASC NULLS FIRST, chunk_id ASC NULLS FIRST
              ) AS rn FROM allt
            ) WHERE rn = 1
        """,
        # split-lineage slicing oracle: chunk text independently re-cut from
        # the section sentence stream; packing contract verified in SQL
        # (see kg_chunks docstring)
        # coverage contract: the emitted chunks tile the section sentence
        # stream in order and every SKIPPED region (the leading prefix, the
        # inter-chunk gaps -- a dropped joiner at soft boundaries, or a
        # whole whitespace-only slice the F7 filter removed -- and the
        # trailing remainder) is whitespace-only (the EXACT Python strip set,
        # see _SQL_PY_WS): no content is ever lost
        "kg_chunks": f"""
            WITH c AS (
              SELECT * FROM read_parquet('{_SPLIT_DIR}/kg_chunks_up/*.parquet')
            ),
            w AS (
              SELECT *,
                row_number() OVER sec AS rn,
                count(*) OVER (PARTITION BY doc_id, sec_ord) AS n_in_sec,
                lead(stream_start) OVER sec AS next_start,
                first_value(sec_stream) OVER sec AS stream
              FROM c
              WINDOW sec AS (PARTITION BY doc_id, sec_ord ORDER BY ord)
            )
            SELECT repo, path, "commit", lang, sha, doc_id, chunk_id, ord,
                   "level", parent_title, section_title, is_root,
                   section_kind, char_start, char_len,
                   substring(stream, CAST(stream_start + 1 AS INT),
                             char_len) AS text,
                   (char_len BETWEEN 1 AND 1000
                    AND (rn = n_in_sec OR char_len >= 600)) AS len_ok,
                   (CASE WHEN rn = 1
                         THEN trim(substring(stream, 1,
                                CAST(stream_start AS INT)),
                              {_SQL_PY_WS}) = ''
                         ELSE TRUE END
                    AND CASE WHEN rn = n_in_sec
                          THEN trim(substring(stream,
                                 CAST(stream_start + char_len + 1 AS INT)),
                               {_SQL_PY_WS}) = ''
                          ELSE next_start >= stream_start + char_len
                               AND trim(substring(stream,
                                     CAST(stream_start + char_len + 1 AS INT),
                                     CAST(next_start - (stream_start + char_len)
                                          AS INT)),
                                   {_SQL_PY_WS}) = ''
                        END) AS cov_ok
            FROM w
        """,
        "kg_chunk_stats": f"""
            WITH chunks AS (
              SELECT repo, lang, char_len
              FROM read_parquet('{_SPLIT_DIR}/chunk_stats_up/*.parquet')
            ),
            per_bucket AS (
              SELECT repo, lang,
                     CAST(floor(char_len / 100.0) * 100 AS INTEGER) AS bucket,
                     COUNT(*) AS n,
                     CAST(SUM(char_len) AS BIGINT) AS s,
                     CAST(SUM(CAST(char_len AS BIGINT) * char_len) AS BIGINT) AS sq
              FROM chunks GROUP BY repo, lang, bucket
            ),
            agg AS (
              SELECT repo, lang,
                     CAST(SUM(n) AS BIGINT) AS n_chunks,
                     CAST(SUM(s) AS BIGINT) AS sum_len,
                     CAST(SUM(sq) AS BIGINT) AS sum_sq,
                     string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(n AS VARCHAR),
                                ',' ORDER BY bucket) AS len_hist
              FROM per_bucket GROUP BY repo, lang
            )
            SELECT repo, lang, n_chunks, sum_len,
                   ROUND(CAST(sum_len AS DOUBLE) / n_chunks, 4) AS mean_len,
                   CASE WHEN n_chunks > 1 THEN
                     ROUND((CAST(sum_sq AS DOUBLE)
                            - CAST(sum_len AS DOUBLE) * sum_len / n_chunks)
                           / (n_chunks - 1), 4)
                   ELSE 0.0 END AS var_len,
                   len_hist
            FROM agg
        """,
        "kg_vertices": f"""
            WITH t AS (
              SELECT subj, subj_type, obj, obj_type
              FROM read_parquet('{_SPLIT_DIR}/vertices_up/*.parquet')
            ),
            v AS (
              SELECT DISTINCT name, type FROM (
                SELECT subj AS name, subj_type AS type FROM t
                UNION ALL SELECT obj, obj_type FROM t)
            )
            SELECT md5(concat_ws(chr(31), name, type)) AS id, name, type FROM v
        """,
        # parity envelope: the norm-key case-fold is DuckDB lower vs Java
        # String lower -- equivalent on ASCII + CJK (the corpus alphabet);
        # the whitespace class is spelled explicitly (Java \\s includes
        # \\x0B, RE2 \\s does not).
        "kg_canonical_triples": f"""
            WITH t AS (
              SELECT * FROM read_parquet('{_SPLIT_DIR}/canonical_up/*.parquet')
            ),
            names AS (
              SELECT DISTINCT name FROM (
                SELECT subj AS name, subj_type AS tt FROM t
                UNION ALL SELECT obj, obj_type FROM t)
              WHERE tt <> 'chunk'
            ),
            keyed AS (
              SELECT name,
                     regexp_replace(regexp_replace(lower(trim(name)),
                       '[ \t\n\x0b\f\r.,;:()（）、，。·_-]+', '', 'g'),
                       '的', '', 'g') AS k
              FROM names
            ),
            rep AS (SELECT k, min(name) AS rep FROM keyed GROUP BY k),
            mapping AS (
              SELECT keyed.name, rep.rep AS canonical
              FROM keyed JOIN rep USING (k)
              WHERE keyed.name <> rep.rep
            ),
            canon AS (
              SELECT COALESCE(ms.canonical, t.subj) AS subj,
                     t.pred,
                     CASE WHEN t.obj_type = 'chunk' THEN t.obj
                          ELSE COALESCE(mo.canonical, t.obj) END AS obj,
                     t.subj_type, t.obj_type, t.repo, t.path, t."commit",
                     t.sha, t.chunk_id
              FROM t
              LEFT JOIN mapping ms ON t.subj = ms.name
              LEFT JOIN mapping mo ON t.obj = mo.name
            )
            SELECT subj, pred, obj, subj_type, obj_type, repo, path,
                   "commit", sha, chunk_id
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY subj, pred, obj, sha
                ORDER BY subj_type ASC NULLS FIRST, obj_type ASC NULLS FIRST,
                         repo ASC NULLS FIRST, path ASC NULLS FIRST,
                         "commit" ASC NULLS FIRST, chunk_id ASC NULLS FIRST
              ) AS rn FROM canon
            ) WHERE rn = 1
        """,
        # split-lineage: the chunker output persists; DuckDB recomputes the
        # whole question extraction (exercise filter, T1 translate + dot
        # respacing, numbered split + posexplode, option stem/body split).
        # Parity notes: the split whitespace class is spelled explicitly
        # (Java \\s includes \\x0B, RE2's does not); the option-marker
        # position uses a (?s) lazy-prefix extract (RE2 has no regexp_instr)
        # which equals Spark's regexp_instr because both scan from the
        # string start for the FIRST match.
        "textbook_question_table": f"""
            WITH c AS (
              SELECT * FROM read_parquet('{_SPLIT_DIR}/textbook_chunks/*.parquet')
            ),
            ex AS (
              SELECT doc_id,
                     COALESCE(parent_title, section_title) AS chapter,
                     section_title,
                     regexp_replace(
                       regexp_replace(
                         translate(text, '．（）', '.()'), '\\.', '. ', 'g'),
                       '\\.  ', '. ', 'g') AS body
              FROM c WHERE section_kind = 'question'
            ),
            parts AS (
              SELECT doc_id, chapter, section_title,
                     regexp_split_to_array(
                       body, '[0-9]+[.、][ \t\n\x0b\f\r]*') AS arr
              FROM ex
            ),
            exploded AS (
              SELECT * FROM (
                SELECT doc_id, chapter, section_title,
                       CAST(generate_subscripts(arr, 1) - 1 AS INTEGER) AS q_ord,
                       unnest(arr) AS question_raw
                FROM parts)
              WHERE length(trim(question_raw)) > 0
            ),
            opted AS (
              SELECT *,
                     CASE WHEN regexp_matches(question_raw,
                            '\\(1\\)|\\(2\\)|\\(3\\)|\\(4\\)|[ABCD]\\. ')
                          THEN length(regexp_extract(question_raw,
                            '(?s)^(.*?)(\\(1\\)|\\(2\\)|\\(3\\)|\\(4\\)|[ABCD]\\. )',
                            1)) + 1
                          ELSE 0 END AS opt_idx
              FROM exploded
            )
            SELECT doc_id, chapter, section_title, q_ord,
                   trim(CASE WHEN opt_idx > 1
                             THEN substring(question_raw, 1, opt_idx - 1)
                             ELSE question_raw END) AS question_text,
                   trim(CASE WHEN opt_idx > 0
                             THEN substring(question_raw, opt_idx)
                             ELSE question_raw END) AS question
            FROM opted
        """,
        # differential oracle: the query materializes a one-shot rebuild
        # through a different code path; hash equality proves the
        # incremental bucket-merge reconstructs it row-for-row
        "kg_add_content": f"""
            SELECT subj, pred, obj, subj_type, obj_type, repo, path,
                   "commit", sha, chunk_id
            FROM read_parquet('{_SPLIT_DIR}/add_content_oneshot/*.parquet')
        """,
        # split-lineage: the prepared paper source persists; DuckDB replays
        # the ENTIRE question grammar from it (see _paper_oracle_sql)
        "paper_questions": _paper_oracle_sql(),
        "paper_knowledge_edges": f"""
            WITH q AS (
              SELECT * FROM read_parquet('{_SPLIT_DIR}/paper_questions_up/*.parquet')
            ),
            vocab(term) AS (VALUES
              ('函数的单调性'), ('等差数列'), ('平面向量'), ('概率的基本性质')),
            m AS (
              SELECT DISTINCT doc_id, q_index, term
              FROM q JOIN vocab ON contains(q.analysis, vocab.term)
            )
            SELECT DISTINCT
                   q.doc_id || ':' || CAST(q.q_index AS VARCHAR) AS subj,
                   '考查' AS pred, m.term AS obj,
                   'question' AS subj_type, 'entity' AS obj_type,
                   q.repo, q.path, q."commit", q.sha,
                   CAST(NULL AS VARCHAR) AS chunk_id
            FROM q JOIN m ON q.doc_id = m.doc_id AND q.q_index = m.q_index
        """,
    }
