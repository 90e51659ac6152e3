"""The --dedup job surface: source table -> (id, keeper, keep) decisions ->
parquet, plus the optional keep-only source rewrite. Exercises all three
strategies through run_dedup (the exact code path the CLI calls)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.job import run_dedup


def _source(spark):
    """6 docs: two byte-identical pairs (exact dups), one near-dup of doc a
    (shared long prefix), one unique."""
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby "
    ) * 6
    rows = [
        ("r1", "a.txt", "c1", "text", base),
        ("r1", "b.txt", "c1", "text", base),  # exact dup of a
        ("r1", "c.txt", "c1", "text", base + "one extra closing sentence."),  # near-dup
        ("r2", "d.txt", "c1", "text", "completely different content here."),
        ("r2", "e.txt", "c1", "text", "completely different content here."),  # exact dup of d
        ("r2", "f.txt", "c1", "text", "a unique document with its own words."),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _decisions(spark, out):
    return {
        r.id: (r.keeper, r.keep)
        for r in spark.read.parquet(f"{out}/dedup_decisions").collect()
    }


def test_dedup_job_exact(spark):
    out = tempfile.mkdtemp(prefix="tckg_dedup_ex_")
    try:
        stats = run_dedup(spark, _source(spark), out, strategy="exact")
        d = _decisions(spark, out)
        assert stats["docs"] == 6 and len(d) == 6
        # byte-identical groups collapse to their min id; near-dup c survives
        assert d["r1:a.txt@c1"] == ("r1:a.txt@c1", True)
        assert d["r1:b.txt@c1"] == ("r1:a.txt@c1", False)
        assert d["r1:c.txt@c1"][1] is True
        assert d["r2:e.txt@c1"] == ("r2:d.txt@c1", False)
        assert stats["duplicates_dropped"] == 2
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dedup_job_minhash_and_rewrite(spark):
    out = tempfile.mkdtemp(prefix="tckg_dedup_mh_")
    try:
        stats = run_dedup(
            spark, _source(spark), out, strategy="minhash", write_deduped=True
        )
        d = _decisions(spark, out)
        assert len(d) == 6
        # the near-dup cluster {a, b, c} collapses to min id a
        for doc in ("r1:a.txt@c1", "r1:b.txt@c1", "r1:c.txt@c1"):
            assert d[doc][0] == "r1:a.txt@c1"
        assert d["r1:a.txt@c1"][1] is True and d["r1:c.txt@c1"][1] is False
        assert d["r2:f.txt@c1"] == ("r2:f.txt@c1", True)
        assert stats["duplicates_dropped"] == 3
        # the keep-only rewrite holds exactly the keeper rows, full schema
        kept = spark.read.parquet(f"{out}/deduped")
        assert sorted(r.path for r in kept.collect()) == ["a.txt", "d.txt", "f.txt"]
        assert set(kept.columns) == {"repo", "path", "commit", "lang", "content"}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dedup_job_simhash(spark):
    out = tempfile.mkdtemp(prefix="tckg_dedup_sh_")
    try:
        stats = run_dedup(spark, _source(spark), out, strategy="simhash")
        d = _decisions(spark, out)
        assert len(d) == 6
        # simhash certainly catches the hamming-0 (byte-identical) groups
        assert d["r1:b.txt@c1"] == ("r1:a.txt@c1", False)
        assert d["r2:e.txt@c1"] == ("r2:d.txt@c1", False)
        assert stats["kept"] + stats["duplicates_dropped"] == 6
        # every keeper is itself kept (cluster representative invariant)
        keepers = {k for k, _ in d.values()}
        for k in keepers:
            assert d[k][1] is True
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _corpus_of(spark, rows):
    return spark.createDataFrame(rows, "id string, text string")


def test_incremental_dedup_exact(spark):
    """Exact store: a second batch curates in O(new) -- known shas map to
    the OLD keeper, fresh shas group among themselves, old decisions are
    immutable."""
    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_documents,
        write_dedup_store,
    )

    out = tempfile.mkdtemp(prefix="tckg_incex_")
    try:
        b1 = _corpus_of(spark, [("a", "same text"), ("b", "same text"), ("c", "solo")])
        write_dedup_store(spark, b1, out, strategy="exact")
        before = {r.id: (r.keeper, r.keep)
                  for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert before == {"a": ("a", True), "b": ("a", False), "c": ("c", True)}

        b2 = _corpus_of(spark, [
            ("d", "same text"),      # exact dup of the OLD a/b cluster
            ("e", "fresh text"), ("f", "fresh text"),  # new-new exact pair
            ("g", "unique"),
        ])
        stats = add_documents(spark, out, b2)
        assert stats["new_docs"] == 4 and stats["new_duplicates_dropped"] == 2

        after = {r.id: (r.keeper, r.keep)
                 for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert {k: after[k] for k in before} == before  # immutability
        assert after["d"] == ("a", False)
        assert after["e"] == ("e", True) and after["f"] == ("e", False)
        assert after["g"] == ("g", True)

        # a third batch repeating the batch-2 sha joins ITS cluster
        add_documents(spark, out, _corpus_of(spark, [("h", "fresh text")]))
        final = {r.id: (r.keeper, r.keep)
                 for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert final["h"] == ("e", False)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_dedup_minhash(spark):
    """Minhash store: new near-dups of old docs join the OLD cluster's
    keeper even when the new id sorts smaller (first-seen-wins), new-new
    clusters elect their min id, and untouched new docs keep themselves."""
    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_documents,
        write_dedup_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby "
    ) * 6
    other = (
        "completely different words describing an entirely distinct topic "
        "with no overlapping shingles whatsoever in this standalone text "
    ) * 6
    out = tempfile.mkdtemp(prefix="tckg_incmh_")
    try:
        b1 = _corpus_of(spark, [("m1", base), ("m2", base + "tail sentence."),
                                ("m3", other)])
        write_dedup_store(spark, b1, out, strategy="minhash")
        before = {r.id: (r.keeper, r.keep)
                  for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert before["m1"] == ("m1", True) and before["m2"] == ("m1", False)

        b2 = _corpus_of(spark, [
            ("a0", base + "slightly varied ending."),  # near-dup of OLD m1 cluster
            ("n1", other + "extra line one."),         # near-dup of OLD m3
            ("z1", "totally unrelated fresh document with its own content."),
        ])
        stats = add_documents(spark, out, b2, old_corpus=b1)
        assert stats["new_docs"] == 3

        after = {r.id: (r.keeper, r.keep)
                 for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert {k: after[k] for k in before} == before  # immutability
        # a0 < m1 lexicographically, but first-seen-wins: keeper stays m1
        assert after["a0"] == ("m1", False)
        assert after["n1"] == ("m3", False)
        assert after["z1"] == ("z1", True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_minhash_requires_cumulative_old_corpus(spark):
    """A third batch whose near-dup lives in the SECOND batch must fail
    loudly when old_corpus only covers the first -- the coverage guard
    raises instead of silently keeping a true near-duplicate; passing the
    cumulative prior corpus curates it correctly."""
    import pytest

    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_documents,
        write_dedup_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby "
    ) * 6
    other = (
        "completely different words describing an entirely distinct topic "
        "with no overlapping shingles whatsoever in this standalone text "
    ) * 6
    out = tempfile.mkdtemp(prefix="tckg_inccov_")
    try:
        b1 = _corpus_of(spark, [("m1", base)])
        b2 = _corpus_of(spark, [("q1", other)])
        b3 = _corpus_of(spark, [("r1", other + "tiny suffix.")])  # ~= q1 (batch 2!)
        write_dedup_store(spark, b1, out, strategy="minhash")
        add_documents(spark, out, b2, old_corpus=b1)

        with pytest.raises(ValueError, match="cumulative"):
            add_documents(spark, out, b3, old_corpus=b1)  # b2 missing

        add_documents(spark, out, b3, old_corpus=b1.unionByName(b2))
        d = {r.id: (r.keeper, r.keep)
             for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert d["r1"] == ("q1", False)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dedup_cli_validations(spark, tmp_path):
    """The CLI rejects incoherent incremental requests upfront: simhash has
    no store; --add-content against a non-store errors; strategy mismatch
    against an existing store errors."""
    import pytest

    from textchunking_and_knowledgegraph_spark.job import main

    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "some text", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(docs)
    store = str(tmp_path / "store")

    for argv in (
        ["--source", docs, "--docs-table", "--output", store,
         "--dedup", "simhash", "--add-content"],
        ["--source", docs, "--docs-table", "--output", store,
         "--dedup", "minhash", "--add-content"],  # store doesn't exist yet
        ["--source", docs, "--docs-table", "--output", store,
         "--dedup", "minhash", "--add-content", "--write-deduped"],
    ):
        with pytest.raises(SystemExit):
            main(argv)

    # build an exact store, then ask for minhash incrementally -> mismatch
    assert main(["--source", docs, "--docs-table", "--output", store,
                 "--dedup", "exact"]) == 0
    with pytest.raises(SystemExit):
        main(["--source", docs, "--docs-table", "--output", store,
              "--dedup", "minhash", "--add-content"])


def test_incremental_embedding_store(spark):
    """Embedding-cosine curation with a persisted SRP-bucket store: the
    full build clusters near-identical vectors; a new batch joins existing
    clusters first-seen-wins; the coverage guard rejects a non-cumulative
    prior corpus."""
    import pytest

    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_embeddings,
        write_embedding_store,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    out = tempfile.mkdtemp(prefix="tckg_incemb_")
    try:
        b1 = spark.createDataFrame(
            [("e1", vec(1, 0, 0, 0)), ("e2", vec(0.999, 0.01, 0, 0)),
             ("e3", vec(0, 1, 0, 0))],
            "id string, embedding array<double>",
        )
        stats = write_embedding_store(spark, b1, out, threshold=0.95)
        assert stats["docs"] == 3 and stats["duplicates_dropped"] == 1
        before = {r.id: (r.keeper, r.keep)
                  for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert before["e2"] == ("e1", False) and before["e3"] == ("e3", True)

        b2 = spark.createDataFrame(
            [("a9", vec(0.998, -0.02, 0, 0)),   # ~= e1 cluster, smaller id
             ("z9", vec(0, 0, 1, 0))],          # unrelated
            "id string, embedding array<double>",
        )
        with pytest.raises(ValueError, match="cumulative"):
            add_embeddings(spark, out, b2, old_corpus=b1.filter("id = 'e3'"))
        stats2 = add_embeddings(spark, out, b2, old_corpus=b1)
        assert stats2["new_docs"] == 2 and stats2["new_duplicates_dropped"] == 1
        after = {r.id: (r.keeper, r.keep)
                 for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert {k: after[k] for k in before} == before  # immutability
        assert after["a9"] == ("e1", False)  # first-seen-wins despite a9 < e1
        assert after["z9"] == ("z9", True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_minhash_self_contained_store(spark):
    """r5: a store_text store needs NO caller-supplied cumulative corpus --
    candidate verification reads old text from the store's own texts table,
    including text that arrived in a LATER batch (the scenario that used to
    require passing every earlier batch)."""
    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_documents,
        write_dedup_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby "
    ) * 6
    other = (
        "completely different words describing an entirely distinct topic "
        "with no overlapping shingles whatsoever in this standalone text "
    ) * 6
    out = tempfile.mkdtemp(prefix="tckg_incself_")
    try:
        write_dedup_store(spark, _corpus_of(spark, [("m1", base)]), out,
                          strategy="minhash")
        add_documents(spark, out, _corpus_of(spark, [("q1", other)]))
        # near-dup of q1 (batch 2): verification must read q1's text from
        # the STORE -- no old_corpus anywhere
        add_documents(spark, out, _corpus_of(spark, [("r1", other + "tiny suffix.")]))
        d = {r.id: (r.keeper, r.keep)
             for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert d["r1"] == ("q1", False)
        assert d["m1"] == ("m1", True) and d["q1"] == ("q1", True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_add_idempotent_and_crash_safe(spark):
    """r5 commit protocol: (1) replaying an already-curated batch is a
    no-op (duplicate-id guard -- no conflicting decision rows); (2) a crash
    between the side-table renames and the decisions rename leaves only
    orphan dirs that no reader surfaces, and retrying the batch heals the
    store."""
    import os

    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_documents,
        committed_batches,
        write_dedup_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill nearby "
    ) * 6
    out = tempfile.mkdtemp(prefix="tckg_inccrash_")
    try:
        b1 = _corpus_of(spark, [("m1", base)])
        b2 = _corpus_of(spark, [("p1", base + "varied ending here.")])
        write_dedup_store(spark, b1, out, strategy="minhash")

        # (1) idempotent replay of batch 1
        stats = add_documents(spark, out, b1)
        assert stats["new_docs"] == 0 and stats["already_curated"] == 1
        rows = spark.read.parquet(f"{out}/dedup_decisions").collect()
        assert len(rows) == 1  # no duplicate decision rows

        # (2) simulate a crash AFTER the sigs/texts renames but BEFORE the
        # decisions rename: commit batch 2 fully, then delete its decisions
        # dir (the commit marker) -- sigs/texts for p1 become orphans
        before = set(committed_batches(out))
        add_documents(spark, out, b2)
        (bid2,) = set(committed_batches(out)) - before
        shutil.rmtree(os.path.join(out, "dedup_decisions", f"batch={bid2}"))

        # orphaned side tables are invisible: decisions show only batch 1
        d = {r.id for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert d == {"m1"}

        # retrying batch 2 heals -- p1 is reprocessed (not skipped) and
        # still links to the OLD keeper through the store's own texts
        stats = add_documents(spark, out, b2)
        assert stats["new_docs"] == 1 and stats["already_curated"] == 0
        final = {r.id: (r.keeper, r.keep)
                 for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert final["p1"] == ("m1", False)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_embeddings_self_contained(spark):
    """r5: add_embeddings verifies against the store's own embeddings table
    when no old_corpus is passed."""
    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
        add_embeddings,
        write_embedding_store,
    )

    def _emb(spark, rows):
        return spark.createDataFrame(rows, "id string, embedding array<double>")

    out = tempfile.mkdtemp(prefix="tckg_incembself_")
    try:
        b1 = _emb(spark, [("e1", [1.0, 0.0, 0.0, 0.0]), ("e2", [0.0, 1.0, 0.0, 0.0])])
        write_embedding_store(spark, b1, out, threshold=0.95)
        b2 = _emb(spark, [("f1", [0.999, 0.01, 0.0, 0.0])])  # ~= e1
        stats = add_embeddings(spark, out, b2)
        assert stats["new_docs"] == 1 and stats["new_duplicates_dropped"] == 1
        d = {r.id: (r.keeper, r.keep)
             for r in spark.read.parquet(f"{out}/dedup_decisions").collect()}
        assert d["f1"] == ("e1", False)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_publish_failure_leaves_no_staging_dir(spark, tmp_path):
    """A batch whose write fails propagates the error and leaves no
    .staging_<batch> directory behind in the store."""
    import os

    import pytest

    from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import _publish

    bad = spark.range(4).select(
        (F.col("id") + F.raise_error(F.lit("boom")).cast("long")).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        _publish(bad, str(tmp_path), "sigs", "b1")
    assert not [e for e in os.listdir(tmp_path / "sigs") if e.startswith(".staging_")]
