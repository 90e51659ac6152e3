"""Dedup suite tests: planted duplicates must be found; disjoint docs must not."""

from pyspark.sql import functions as F
from signature_oracles import simhash64

from textchunking_and_knowledgegraph_spark.operators.dedup import (
    _simhash_batch,
    embedding_near_dups,
    exact_dedup,
    minhash_near_dups,
    simhash_near_dups,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest while the hunter watches quietly from afar "
    "under the old oak tree near the silver river bend at dawn light"
)


def _docs(spark):
    rows = [
        {"doc_id": 1, "text": _BASE},
        {"doc_id": 2, "text": _BASE},                                   # exact dup of 1
        {"doc_id": 3, "text": _BASE.replace("quick", "swift")},          # near dup of 1
        {"doc_id": 4, "text": "completely different content about spark dataframes and shuffles etc"},
        {"doc_id": 5, "text": ""},
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    out = {r.id: (r.group_size, r.keep) for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == (2, True)
    assert out[2] == (2, False)
    assert out[3][0] == 1 and out[3][1]
    assert out[4][1]


def test_minhash_near_dups(spark):
    pairs = {(r.id_a, r.id_b) for r in minhash_near_dups(_docs(spark), threshold=0.6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_verify_is_one_python_stage(spark):
    """The exact Jaccard verify runs once per surviving pair. As a
    deterministic UDF it was inlined into both the threshold filter (pushed
    below its projection) and the projection above it: two Python stages."""
    pairs = minhash_near_dups(_docs(spark), threshold=0.6)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_ngram_jaccard_exact_matches_python_metric(spark):
    """The exact all-pairs baseline (JVM array algebra) must agree with the
    Python `_word_shingles` metric — the same verify function the LSH path
    applies — pairwise, and the LSH-blocked path must find a subset of it."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import (
        _word_shingles,
        ngram_jaccard_exact,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark)
    rows = {(r.id_a, r.id_b): (r.inter_n, r.union_n, r.jaccard)
            for r in ngram_jaccard_exact(docs, threshold_pct=40).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    ids = sorted(i for i in texts if texts[i].strip())
    expected = {}
    for idx, a in enumerate(ids):
        for b in ids[idx + 1:]:
            ga, gb = _word_shingles(texts[a]), _word_shingles(texts[b])
            inter, uni = len(ga & gb), len(ga | gb)
            if uni and inter * 100 >= 40 * uni and inter > 0:
                expected[(a, b)] = (inter, uni, round(inter / uni, 6))
    assert rows == expected and (1, 2) in rows and (1, 3) in rows
    lsh = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert lsh <= set(rows)  # LSH blocking never accepts below the exact metric
    assert (1, 2) in lsh


def test_shingle_tokenizer_whitespace_parity(spark):
    """The Python `_word_shingles` verify metric and the JVM `_shingle_col`
    baseline must tokenize identically on non-ASCII whitespace: Python's
    str.split() is unicode-aware while Java/RE2 `\\s+` is ASCII-only, so a
    U+3000 full-width space (routine in CJK corpora) must stay INSIDE tokens
    on BOTH paths — otherwise a pair can pass the LSH verify but miss the
    exact baseline, breaking the lsh-subset-of-exact invariant."""
    from pyspark.sql import functions as F

    from textchunking_and_knowledgegraph_spark.operators.dedup import (
        _shingle_col,
        _word_shingles,
    )

    texts = [
        "甲　乙　丙　丁 alpha beta gamma",   # U+3000 separators
        "a\tb\nc d  e",                                   # ASCII ws variety
        "x y z w",                                   # NBSP inside token
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [set(r.sh) for r in df.select(_shingle_col("text").alias("sh")).collect()]
    py = [_word_shingles(t) for t in texts]
    assert jvm == py
    # and the U+3000 run is one token on both sides
    assert any("　" in s for s in py[0])


def test_minhash_duckdb_oracle_parity_cjk(spark):
    """Run the dedup_minhash DuckDB oracle against `minhash_near_dups` on a
    fixture with CJK text, U+3000 separators, exact duplicates, and an
    empty doc — none of which the driver's English sf0.01 corpus exercises.
    Pins the full replay (md5 gram hash, numpy-int64 wraparound emulation,
    banding on slice values, star pairs, prefilter, exact verify) beyond
    the driver's corpus."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    base = "函数的概念 与 映射 是 数学 的 基础 内容 之一 必修 课程 重点 章节"
    rows = [
        (1, base),
        (2, base.replace("重点", "核心")),          # near-dup of 1
        (3, base),                                   # exact dup of 1
        (4, "甲　乙　丙　丁 alpha beta gamma delta epsilon zeta eta theta"),
        (5, "甲　乙　丙　丁 alpha beta gamma delta epsilon zeta eta iota"),
        (6, "completely different text about nothing shared at all here"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_spark = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_dups(df, threshold=0.5).collect()
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got_duck = {
        tuple(r) for r in con.execute(entry._minhash_oracle_sql()).fetchall()
    }
    assert got_spark == got_duck
    ids = {(a, b) for a, b, _ in got_spark}
    assert (1, 2) in ids and (1, 3) in ids and (4, 5) in ids
    assert not any(6 in p or 7 in p for p in ids)


def test_minhash_collapse_path_output(spark):
    """>5% exact duplication triggers the distinct-fingerprint signature
    collapse (signatures computed once per distinct text, joined back);
    the pair output must be the same full member-level set the direct
    path emits -- identical texts get identical signatures."""
    import itertools

    rows = [{"doc_id": i, "text": _BASE} for i in range(1, 8)]  # 7 identical
    rows.append({"doc_id": 10, "text": _BASE.replace("quick", "swift")})
    rows.append({"doc_id": 11, "text": "something else entirely about unrelated topics"})
    pairs = {(r.id_a, r.id_b) for r in
             minhash_near_dups(spark.createDataFrame(rows), threshold=0.6).collect()}
    for a, b in itertools.combinations(range(1, 8), 2):
        assert (a, b) in pairs           # member-level pairs preserved
    assert (1, 10) in pairs and (7, 10) in pairs   # near-dups of every member
    assert not any(11 in p for p in pairs)


def test_simhash_known_values():
    a, b, c = _simhash_batch(
        [_BASE, _BASE, _BASE.replace("quick", "swift")]
    ).tolist()
    assert a == b == simhash64(_BASE)
    assert bin((a ^ c) & ((1 << 64) - 1)).count("1") <= 12  # near in hamming space


def test_simhash_duckdb_fingerprint_parity():
    """The dedup_simhash oracle rebuilds the 64-bit fingerprint from
    md5(word) hex nibbles — bit i lives in nibble 16 - i//4 at in-nibble
    position i%4. Pin that bit-layout equivalence against both the shipped
    batch kernel `_simhash_batch` and the per-doc oracle `simhash64`,
    running the SAME `_simhash_fingerprint_sql()` the shipped oracle uses
    (so the test cannot drift from it), on inputs the contract corpus never
    exercises: CJK words, U+3000 inside a token, repeated
    words voting with multiplicity, the empty-text sentinel -2^63, and the
    unicode case-mapping traps (final-position Σ, dotted İ) that full
    lower() resolves differently per engine — the ASCII-only case-fold
    keeps all three engines byte-identical on them."""
    import duckdb

    import __spark_entry__ as entry

    texts = [
        "The Quick brown fox JUMPS over the lazy dog",
        "函数的概念 与 映射",
        "alpha　beta alpha　beta gamma",  # U+3000 inside tokens, repeats
        "",
        "ΟΔΥΣΣΕΥΣ and İstanbul MiXeD",  # Σ/İ: divergent under full lower()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    sql = (
        entry._simhash_fingerprint_sql()
        + " SELECT id, simhash FROM fp ORDER BY id"
    )
    got = dict(con.execute(sql).fetchall())
    shipped = _simhash_batch(texts).tolist()
    for i, t in enumerate(texts):
        assert got[i] == shipped[i] == simhash64(t), (i, t)


def test_simhash_near_dups(spark):
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dups(_docs(spark), max_hamming=12).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_embedding_near_dups(spark):
    rows = [
        {"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]},
        {"vec_id": 2, "embedding": [0.99, 0.05, 0.0, 0.0]},   # near dup of 1
        {"vec_id": 3, "embedding": [0.0, 1.0, 0.0, 0.0]},     # orthogonal
    ]
    df = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    # exact path is now explicit opt-in; the default is SRP blocking
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in embedding_near_dups(df, threshold=0.9, blocking=False).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs


def test_embedding_near_dups_default_plan_is_blocked(spark):
    """The default (no kwargs) path must join on the SRP bucket — the O(N^2)
    cross join can only be reached by explicit blocking=False opt-in."""
    rows = [{"vec_id": i, "embedding": [float(i), 1.0, 0.0, 0.0]} for i in range(4)]
    df = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    plan = embedding_near_dups(df, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_embedding_blocking_recall(spark):
    # SRP blocking at dim=4 must still find the planted near-dup pair
    rows = [
        {"vec_id": 1, "embedding": [1.0, 0.1, 0.0, 0.2]},
        {"vec_id": 2, "embedding": [0.98, 0.12, 0.01, 0.19]},
        {"vec_id": 3, "embedding": [-1.0, 0.5, 0.3, -0.2]},
    ]
    df = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    pairs = {(r.id_a, r.id_b) for r in
             embedding_near_dups(df, threshold=0.9, blocking=True).collect()}
    assert (1, 2) in pairs


def test_dedup_decisions_from_pairs(spark):
    from textchunking_and_knowledgegraph_spark.operators.dedup import dedup_decisions

    docs = spark.createDataFrame(
        [{"doc_id": i, "text": "x"} for i in [1, 2, 3, 4, 5, 6, 10]]
    )
    # clusters {1,2,3} (chain: non-transitive pairs), {5,6}, {2? no} and
    # {10, 2}: numeric min must elect 2, not the lexicographic min "10"
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (2, 10)], "id_a long, id_b long"
    )
    out = {r.id: (r.keeper, r.keep) for r in dedup_decisions(docs, pairs).collect()}
    # ids keep their NATIVE type end-to-end
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[3] == (1, False)  # via chain
    assert out[10] == (1, False)   # numeric min-id, not lexicographic "10"
    assert out[4] == (4, True)     # untouched doc
    assert out[5] == (5, True) and out[6] == (5, False)
    keepers = {v[0] for v in out.values()}
    assert keepers == {1, 4, 5}


def test_minhash_kernel_memory_is_bounded():
    """The signature kernel's working set is one block of shingles, not the
    batch: 4x the docs in one batch may not take 1.5x the peak. tracemalloc
    sees numpy's buffers as well as Python objects. The docs are 150-450
    high-entropy words, so nearly every shingle is distinct -- the case
    where a batch-wide shingle table grows with the batch."""
    import random
    import tracemalloc

    from textchunking_and_knowledgegraph_spark.operators.dedup import _word_shingles
    from textchunking_and_knowledgegraph_spark.operators.linking import (
        _batch_signatures_from_sets,
        _perm_params,
    )

    rng = random.Random(11)
    a, b = _perm_params(64)
    peaks = {}
    for n in (1000, 4000):
        sets = [
            _word_shingles(
                " ".join(
                    f"{rng.getrandbits(48):012x}"
                    for _ in range(rng.randint(150, 450))
                )
            )
            for _ in range(n)
        ]
        tracemalloc.start()
        try:
            sigs = _batch_signatures_from_sets(sets, a, b)
            peaks[n] = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert len(sigs) == n
    assert peaks[4000] <= 1.5 * peaks[1000], peaks
    assert peaks[4000] < 32 << 20, peaks
