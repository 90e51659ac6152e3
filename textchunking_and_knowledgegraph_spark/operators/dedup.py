"""Deduplication suite for large-scale training-data pipelines.

Five strategies over a document table (id, text), each returning DataFrames
that compose into keep/drop decisions. All scale paths avoid O(N^2):
candidate generation is hash/LSH blocking; only survivors get exact scoring.

  exact           -- sha256 groupBy (one shuffle, map-side combinable)
  minhash_lsh     -- shingle -> minhash -> band -> bucket join -> Jaccard verify
  simhash         -- 64-bit simhash, banded hamming blocking
  ngram_jaccard   -- exact n-gram Jaccard verify over LSH candidates
  embedding       -- cosine near-dup over an embedding column (sign-LSH blocking)
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.io import estimate_input_splits
from .linking import (
    _batch_signatures_from_sets,
    _block_layout,
    _blocks,
    _md5_heads,
    _perm_params,
    banded,
)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """[id, sha, group_size, keep]: keep = min id per identical-content group.

    groupBy + join-back, NOT a window over the sha partitioning: a window
    must buffer each key's whole partition in one task (AQE cannot split
    window partitions), so a hot sha -- millions of identical boilerplate
    docs -- OOMs the task. The aggregate combines map-side and the join
    back is AQE-skew-splittable; measured at 1.28M docs the window form
    died with UNABLE_TO_ACQUIRE_MEMORY, this form runs in seconds."""
    withsha = df.select(
        F.col(id_col).alias("id"), F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("sha")
    )
    groups = withsha.groupBy("sha").agg(
        F.count("*").alias("group_size"), F.min("id").alias("keeper")
    )
    return (
        withsha.join(groups, "sha")
        .select("id", "sha", "group_size", (F.col("id") == F.col("keeper")).alias("keep"))
    )


# ---------------------------------------------------------------------------
# minhash LSH near-dup (word shingles)
# ---------------------------------------------------------------------------

# ASCII whitespace ONLY, mirroring Java's default `\s` ([ \t\n\x0B\f\r]):
# the JVM `_shingle_col` baseline and the DuckDB dedup_ngram oracle both
# split on `\s+`, which is ASCII-only in those engines, while Python's
# str.split() is unicode-aware -- a U+3000 full-width space (common in the
# CJK corpora this repo models) would tokenize on the Python side only,
# breaking the pinned "LSH pairs are a subset of the exact baseline"
# invariant. Non-ASCII whitespace therefore stays INSIDE tokens on every
# path (a deliberate, consistent choice: CJK text does not space-tokenize).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# ASCII case-folding ONLY, for the same three-engine-parity reason: full
# unicode lower() DIVERGES between engines (Python maps final-position
# 'Σ'→'ς' and 'İ'→'i'+U+0307; DuckDB maps codepoint-wise; the JVM differs
# again), and the dedup family's hash verification requires the Python
# metric, the JVM baseline, and the DuckDB oracle to produce byte-identical
# tokens for EVERY input, not just the driver corpus. Non-ASCII letters
# keep their case on every path (CJK has no case; the recall cost is
# confined to mixed-case non-Latin scripts and is documented here).
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER_TAB = str.maketrans(_ASCII_UPPER, _ASCII_UPPER.lower())


def _ascii_lower_col(c: F.Column) -> F.Column:
    """JVM twin of ``str.translate(_ASCII_LOWER_TAB)``."""
    return F.translate(c, _ASCII_UPPER, _ASCII_UPPER.lower())


def _words(text: str | None) -> list[str]:
    """ASCII case-fold + ASCII-whitespace split, for cross-engine tokenizer
    parity -- see the _ASCII_WS / _ASCII_LOWER_TAB rationales above."""
    return [
        w
        for w in _ASCII_WS.split((text or "").translate(_ASCII_LOWER_TAB))
        if w
    ]


def _word_shingles(text: str, k: int = 3) -> set[str]:
    words = _words(text)
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


@F.pandas_udf(T.DoubleType())
def _shingle_jaccard(left: pd.Series, right: pd.Series) -> pd.Series:
    out = np.empty(len(left), dtype=np.float64)
    for i, (x, y) in enumerate(zip(left, right)):
        gx, gy = _word_shingles(x), _word_shingles(y)
        u = len(gx | gy)
        out[i] = (len(gx & gy) / u) if u else 0.0
    return pd.Series(out)


def with_minhash_shingles(
    df: DataFrame, text_col: str = "text", n_perm: int = 64, k: int = 3
) -> DataFrame:
    """array<long> minhash signature over WORD k-shingles -- the dedup
    signature basis, matching the exact verify metric (``_shingle_jaccard``).

    The linking minhash (char-2grams, tuned for short CJK aliases) is the
    WRONG basis for document dedup: small shared vocabularies make char
    bigrams of unrelated documents collide, so band collisions and the
    signature-similarity estimate both systematically overestimate the
    word-shingle Jaccard the verify applies. Measured at sf0.1: 341k
    candidate pairs for 160 true pairs under the char basis; the aligned
    word basis prunes candidates to near the true pair set."""
    a, b = _perm_params(n_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return _batch_signatures_from_sets(
            (_word_shingles(t, k) for t in texts), a, b
        )

    return df.withColumn("sig", _sig(F.col(text_col)))


def signatures_with_collapse(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perm: int = 64
) -> DataFrame:
    """Eagerly-checkpointed (id, sig) signature table -- deliberately
    WITHOUT text: the checkpoint exists to avoid re-running the signature
    UDF, while text is a plain scan any consumer can cheaply re-join by id.
    Caching corpus text in the block manager alongside the signatures blew
    the JVM heap at 1.15M docs (stress run: read-ahead OutOfMemoryError).

    Exact-dup pre-collapse (adaptive): signatures only need to run once
    per DISTINCT text -- on duplicate-heavy corpora (boilerplate/template
    replicas, the common web-scale case) the dominant UDF cost drops by
    the duplication factor, and identical texts get identical signatures
    so downstream pair output is UNCHANGED. The collapse costs a
    fingerprint groupBy + join-back shuffle, so it is only taken when a
    cheap column-pruned md5 cardinality probe shows >5% duplication; a
    near-unique corpus keeps the direct single-pass path.

    Checkpoint rationale: the signature UDF feeds the band self-join AND
    two sig-lookup joins -- without a materialization barrier Catalyst
    re-executes the Python stage once per branch. EAGER: a lazy
    localCheckpoint truncates lineage mid-job, and straggler task
    completions then report against unregistered accumulators
    ("non-existent accumulator" DAGScheduler noise, round-1 bench tail)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if estimate_input_splits(base) < par:
        base = base.repartition(par, "id")
    n_total, n_distinct = base.select(
        F.count("*"),
        F.approx_count_distinct(F.md5(F.coalesce("text", F.lit("")))),
    ).first()
    if n_distinct < 0.95 * n_total:
        fp = base.withColumn("fp", F.md5(F.coalesce("text", F.lit(""))))
        rep_sigs = with_minhash_shingles(
            fp.select("fp", "text").groupBy("fp").agg(F.first("text").alias("text")),
            "text",
            n_perm,
        ).select("fp", "sig")
        return (
            fp.join(rep_sigs, "fp")
            .select("id", "sig")
            .localCheckpoint(eager=True)
        )
    return (
        with_minhash_shingles(base, "text", n_perm)
        .select("id", "sig")
        .localCheckpoint(eager=True)
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    n_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 200,
    sig_margin: float = 0.2,
    precomputed_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs [id_a < id_b, jaccard >= threshold].

    shingle -> minhash (pandas UDF, once per doc) -> band keys -> self-join
    on (band_id, band_hash) -> JVM-side signature-similarity prefilter ->
    exact word-shingle Jaccard verify on the survivors only. 16x4 banding:
    ~97% pair recall at J=0.7, collapsing fast below 0.5.

    Scale guards (the 100 TB story):
      * ``max_bucket``: band buckets larger than this skip the quadratic
        self-join -- a crowded bucket is a boilerplate family whose pair
        count grows O(k^2). Instead of dropping those buckets outright
        (which silently loses whole mega-dup families: a family of 2,560
        template replicas occupies oversized buckets in EVERY band), each
        oversized bucket emits linear STAR pairs to its min-id member.
        HONEST RECALL BOUND (like the simhash cap): a star pair still
        passes the exact Jaccard verify, so a member whose similarity to
        the bucket's rep is below threshold is LOST even if it is a true
        near-dup of some other member -- capped families group via
        ``dedup_decisions`` only through members that verify against the
        rep. An accepted trade at web scale; uncapped buckets keep full
        pair recall.
      * signature prefilter: estimated Jaccard = fraction of equal minhash
        components, computed with zip_with/filter (whole-stage codegen, no
        Python); only pairs within ``sig_margin`` of the threshold reach the
        exact per-pair verify UDF, so Python touches near-final pairs only.
    """
    rows = n_perm // bands
    if precomputed_sigs is not None:
        # caller already materialized (id, sig) -- e.g. the incremental-
        # dedup store build, which persists the signatures anyway;
        # recomputing here would double the dominant UDF cost AND hold two
        # checkpointed signature copies in memory at once
        sigs = precomputed_sigs.select("id", "sig")
    else:
        sigs = signatures_with_collapse(df, id_col, text_col, n_perm)
    bd = banded(sigs, bands, rows).select("id", "band_id", "band_hash")

    # skew cap: oversized buckets skip the quadratic self-join and emit
    # linear star pairs instead. groupBy + join-back for the sizes, NOT a
    # window count over the band keys: a window would buffer the very
    # mega-bucket it is trying to tame in a single task (AQE can't split
    # window partitions -- OOMs at 10^6-doc boilerplate clusters). The
    # aggregate partially combines map-side; the joins are skew-splittable.
    pairs = lsh_candidate_pairs(bd, max_bucket)
    # text joined back from the plain source scan -- the checkpoint holds
    # signatures only (see signatures_with_collapse)
    sig_text = sigs.join(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "id"
    )
    return sig_prefiltered_verify(pairs, sig_text, n_perm, threshold, sig_margin)


def lsh_candidate_pairs(
    bd: DataFrame, max_bucket: int, left_col: str | None = None
) -> DataFrame:
    """(id_a, id_b) candidate pairs from banded rows (id, band_id,
    band_hash[, left_col]) with the oversized-bucket star cap.

    ``left_col``: optional boolean column restricting pairs to those
    touching a left row -- the incremental-dedup path marks the NEW batch
    and skips old-old pairs entirely. The unrestricted path keeps the
    cheaper asymmetric self-join (l.id < r.id halves the join output before
    dedup); the restricted path normalizes with least/greatest since the
    left row may sit on either side."""
    bucket_sizes = (
        bd.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bsz"), F.min("id").alias("bucket_rep"))
        .localCheckpoint(eager=True)  # feeds both branches below
    )
    small_keys = bucket_sizes.filter(F.col("bsz") <= max_bucket).select(
        "band_id", "band_hash"
    )
    if left_col is None:
        small = bd.join(small_keys, on=["band_id", "band_hash"])
        quad_pairs = (
            small.alias("l")
            .join(small.alias("r"), on=["band_id", "band_hash"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        )
        star_left = bd
    else:
        left = bd.filter(F.col(left_col))
        quad_pairs = (
            left.select("band_id", "band_hash", F.col("id").alias("id_a"))
            .join(small_keys, ["band_id", "band_hash"])
            .join(
                bd.select("band_id", "band_hash", F.col("id").alias("id_b")),
                ["band_id", "band_hash"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        star_left = left
    # oversized buckets: every (left) member pairs with the bucket's min id
    # -- O(bucket size), not O(bucket size^2); the final dedup collapses
    # repeats across bands. bucket_rep is the bucket MIN, so it always
    # sorts first and (rep, member) is already normalized.
    star_pairs = (
        star_left.join(
            # oversized buckets are FEW by definition -- broadcast the key
            # set so the star branch never shuffles the band rows
            F.broadcast(
                bucket_sizes.filter(F.col("bsz") > max_bucket)
                .select("band_id", "band_hash", "bucket_rep")
            ),
            on=["band_id", "band_hash"],
        )
        .filter(F.col("id") != F.col("bucket_rep"))
        .select(F.col("bucket_rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    return quad_pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


def sig_prefiltered_verify(
    pairs: DataFrame,
    sigs: DataFrame,
    n_perm: int,
    threshold: float,
    sig_margin: float = 0.2,
) -> DataFrame:
    """Shared tail of every minhash path: JVM signature-similarity
    prefilter, then the exact word-shingle Jaccard verify (pandas UDF) on
    near-threshold survivors only. ``sigs`` must carry (id, text, sig)."""
    sig_cols = sigs.select(F.col("id"), F.col("sig"), F.col("text"))
    joined = (
        pairs.join(sig_cols.select(F.col("id").alias("id_a"),
                                   F.col("sig").alias("sig_a"),
                                   F.col("text").alias("text_a")), "id_a")
        .join(sig_cols.select(F.col("id").alias("id_b"),
                              F.col("sig").alias("sig_b"),
                              F.col("text").alias("text_b")), "id_b")
    )
    sig_sim = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e)
    ) / F.lit(float(n_perm))
    # survivors are already hash-distributed by the id_b join; no extra
    # repartition before the verify UDF (it was a full shuffle for nothing)
    survivors = joined.filter(sig_sim >= threshold - sig_margin)
    return (
        survivors.withColumn("jaccard", _shingle_jaccard(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def _word_signbits(heads: np.ndarray) -> np.ndarray:
    """(len(heads), 64) int8 rows of +-1: bit i of each word's 64-bit hash
    (``_md5_heads``: the first 8 md5 bytes, big-endian; bit i = bit i of
    that integer, LSB-first) as +1 if set, else -1 -- the bit layout the
    DuckDB oracle reads back from `md5(word)` hex nibbles."""
    bits = (heads[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    return bits.astype(np.int8) * 2 - 1


def _simhash_block(block: list[list[str]]) -> np.ndarray:
    """uint64 simhash per word list: bit i set iff the words' bit-i votes
    (with multiplicity) sum above zero; an empty list gives 0."""
    out = np.zeros(len(block), dtype=np.uint64)
    rows, starts = _block_layout(block)
    if not len(rows):
        return out
    uniq, inv = np.unique(
        _md5_heads([w for ws in block for w in ws]), return_inverse=True
    )
    votes = np.add.reduceat(
        _word_signbits(uniq)[inv], starts, axis=0, dtype=np.int32
    )
    packed = np.packbits(votes > 0, axis=1, bitorder="little")
    out[rows] = packed.view("<u8").ravel()
    return out


def _simhash_batch(texts: Iterable[str | None]) -> np.ndarray:
    """int64 simhash per text, in word blocks of at most ``_BLOCK_ITEMS``
    (linking.py). Offset by -2^63 into the signed LongType range, so the
    empty text is -2^63."""
    fps = [_simhash_block(block) for block in _blocks(map(_words, texts))]
    u = np.concatenate(fps) if fps else np.zeros(0, dtype=np.uint64)
    return (u ^ np.uint64(1 << 63)).view(np.int64)


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(_simhash_batch(texts))


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", simhash_udf(F.col(text_col)))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming. Blocking: split the 64-bit
    hash into 4 16-bit bands -- any pair within hamming 3 shares at least one
    exact band (pigeonhole), so the self-join is on band equality, not O(N^2).

    ``max_bucket`` caps degenerate band buckets before the self-join (skew
    guard: a band value shared by 10^6 boilerplate docs would otherwise
    emit 10^12 candidate pairs). HONEST RECALL BOUND: pigeonhole only
    guarantees ONE shared band, so a pair whose sole shared band is capped
    is lost -- an accepted recall trade at web scale. The dominant
    degenerate case (hamming-0: byte-identical boilerplate) is recovered
    exactly via a linear identical-simhash star pass (min-id representative
    paired to every other member), so capping never hides exact dups."""
    # eager checkpoint: base feeds the band self-join (both sides), the
    # identical-hash reps aggregation, AND the star join -- without the
    # barrier Catalyst re-executes the simhash Python stage once per branch
    # (same hazard minhash_near_dups documents)
    base = with_simhash(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias(text_col)), text_col
    ).select("id", "simhash").localCheckpoint(eager=True)
    bands = base.select(
        "id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_val"),
                )
                for i in range(4)
            ])
        ).alias("band"),
    ).select("id", "simhash", F.col("band.band_id").alias("band_id"), F.col("band.band_val").alias("band_val"))
    # groupBy + join-back for the cap (window = mega-partition OOM; see
    # minhash_near_dups)
    val_sizes = bands.groupBy("band_id", "band_val").agg(F.count("*").alias("bsz"))
    bands = bands.join(
        val_sizes.filter(F.col("bsz") <= max_bucket).select("band_id", "band_val"),
        on=["band_id", "band_val"],
    )
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), on=["band_id", "band_val"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"), F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    banded_pairs = (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    # hamming-0 star recovery: identical simhashes always pair to their
    # min-id representative, linear in group size, immune to the cap.
    # groupBy + join-back (map-side-combinable min; skew-splittable join)
    reps = base.groupBy("simhash").agg(F.min("id").alias("rep"))
    star_pairs = (
        base.join(reps, "simhash")
        .filter(F.col("id") != F.col("rep"))
        .select(
            F.col("rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return banded_pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


# ---------------------------------------------------------------------------
# n-gram jaccard (exact verify over LSH candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Same LSH blocking as minhash_near_dups, lower verify threshold --
    exposed separately because the verify metric (word 3-gram Jaccard) is the
    contract, not the blocking."""
    return minhash_near_dups(df, id_col, text_col, threshold=threshold)


def _shingle_col(text_col: str, k: int = 3) -> F.Column:
    """Distinct word k-shingles as a JVM array column — the column-algebra
    twin of ``_word_shingles`` (ASCII lowercase, ASCII-whitespace split,
    k-word windows; <k words collapse to the single joined shingle)."""
    words = F.filter(
        F.split(_ascii_lower_col(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(words) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j) for j in range(k)]
        ),
    )
    return F.when(F.size(words) >= k, F.array_distinct(shingles)).otherwise(
        F.array(F.concat_ws(" ", words))
    )


def ngram_jaccard_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_pct: int = 40,
) -> DataFrame:
    """Exact all-pairs word-3-shingle Jaccard — the correctness BASELINE for
    the LSH-blocked path, same role ``brute_force_topk`` plays for SRP ANN:
    O(N²) by construction, run at oracle scale (hundreds of docs) to pin the
    verify metric against an independent SQL replay, never at corpus scale
    (``ngram_jaccard_pairs``/``minhash_near_dups`` is the scale path).

    Entirely JVM-side: shingle sets as array columns, intersection/union
    sizes via array_intersect, and the threshold applied as an integer
    cross-multiply (inter*100 >= pct*union) so acceptance is exact rational
    arithmetic — no float boundary can disagree with the DuckDB oracle."""
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), _shingle_col(text_col).alias("sh"))
    )
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "inter_n", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "union_n",
            (F.size("sh_a") + F.size("sh_b")).cast("long") - F.col("inter_n"),
        )
        .filter(F.col("inter_n") * 100 >= F.lit(threshold_pct) * F.col("union_n"))
        .filter(F.col("inter_n") > 0)
    )
    return pairs.select(
        "id_a",
        "id_b",
        "inter_n",
        "union_n",
        F.round(F.col("inter_n").cast("double") / F.col("union_n"), 6).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (sign-LSH blocking at scale, exact verify)
# ---------------------------------------------------------------------------

def _hyperplanes(
    dim: int, n_planes: int = 16, seed: int = 7, quantize: bool = False
) -> np.ndarray:
    """Seeded SRP hyperplanes. ``quantize=True`` snaps every coefficient to
    a dyadic rational (multiple of 2^-10): statistically indistinguishable
    from the raw normals for LSH purposes, but every coefficient is then
    EXACTLY representable in float64 *and* as a short decimal literal, so an
    external SQL oracle can inline the planes and recompute sign bits with
    provably reduction-order-independent arithmetic when the embeddings are
    themselves dyadic (the ann_srp_topk contract fixture) -- the same
    exactness trade ann._ivf_fixture makes."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    if quantize:
        planes = np.round(planes * 1024.0) / 1024.0
    return planes


def with_sign_bucket(
    df: DataFrame, emb_col: str = "embedding", n_planes: int = 16, seed: int = 7
) -> DataFrame:
    """Random-hyperplane (SRP) bucket id: 2^n_planes buckets; cosine-similar
    vectors collide with high probability. Deterministic planes (per
    ``seed``); the embedding dimension is inferred from the data inside the
    UDF (the seeded generator yields identical planes on every
    executor/batch), so callers can't pass a mismatched ``dim``."""

    @F.pandas_udf(T.IntegerType())
    def _bucket(embs: pd.Series) -> pd.Series:
        if embs.empty:
            return pd.Series([], dtype="int32")
        mat = np.stack(embs.to_numpy())
        planes = _hyperplanes(mat.shape[1], n_planes, seed)
        signs = (mat @ planes.T) > 0
        vals = (signs * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int32)
        return pd.Series(vals)

    return df.withColumn("bucket", _bucket(F.col(emb_col)))


def with_sign_buckets(
    df: DataFrame,
    emb_col: str = "embedding",
    n_planes: int = 16,
    n_tables: int = 1,
    quantize: bool = False,
) -> DataFrame:
    """Multi-table SRP: ``n_tables`` independent plane sets in ONE UDF pass,
    exploded to (table_id, bucket) rows. Standard LSH-forest recall lever --
    a true neighbor missed by one table's cut is caught by another; recall
    grows ~(1 - (1-p)^T) for per-table collision probability p, at T x the
    candidate volume."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _buckets(embs: pd.Series) -> pd.Series:
        if embs.empty:
            return pd.Series([], dtype="object")
        mat = np.stack(embs.to_numpy())
        out = np.empty((mat.shape[0], n_tables), dtype=np.int32)
        for t in range(n_tables):
            planes = _hyperplanes(mat.shape[1], n_planes, seed=7 + t, quantize=quantize)
            signs = (mat @ planes.T) > 0
            out[:, t] = (signs * (1 << np.arange(n_planes))).sum(axis=1)
        return pd.Series(list(out))

    bucketed = df.withColumn("_buckets", _buckets(F.col(emb_col)))
    return (
        bucketed.select(
            "*", F.posexplode("_buckets").alias("table_id", "bucket")
        )
        .drop("_buckets")
    )


def cosine_expr(a, b):
    """JVM-side cosine similarity over two array<float> columns via
    higher-order functions -- no Python, stays in codegen."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.9,
    blocking: bool = True,
) -> DataFrame:
    """Pairs with cosine >= threshold. ``blocking=True`` (the DEFAULT -- the
    O(N^2) path must be opted into, never reached silently at scale) adds
    SRP bucket equality as the join key: near-linear candidates, recall
    traded by n_planes. ``blocking=False`` is the exact O(N^2) verify for
    small N and recall measurement only."""
    base = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
    if blocking:
        base = with_sign_bucket(base, "emb")
        l, r = base.alias("l"), base.alias("r")
        cand = l.join(r, on=["bucket"]).filter(F.col("l.id") < F.col("r.id"))
    else:
        l, r = base.alias("l"), base.alias("r")
        cand = l.join(r, F.col("l.id") < F.col("r.id"))
    sim = cosine_expr(F.col("l.emb"), F.col("r.emb"))
    return (
        cand.select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), sim.alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# pairs -> per-document keep/drop decision
# ---------------------------------------------------------------------------

def dedup_decisions(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """[id, keeper, keep]: collapse near-dup PAIRS into per-document
    curation decisions -- the step every pair-emitting strategy above needs
    before a corpus can actually be filtered.

    Near-dup similarity is not transitive, but curation treats it as an
    equivalence: connected components over the pair graph
    (operators/canonicalize.py: one numpy union-find task for a pair graph
    of up to ``_LOCAL_CC_EDGES`` symmetrized rows, such as a 25k-doc store;
    iterative min-label propagation with pointer jumping above that, such
    as the 1.28M-doc stress graph) group the documents; each cluster's
    keeper is the min id IN THE ID'S NATIVE TYPE (CC labels are strings,
    whose lexicographic min would elect "10" over "2" for numeric ids — the
    keeper is therefore re-derived per component with a typed min + join
    back). Documents in no pair keep
    themselves. The keeper step itself runs no UDF."""
    from .canonicalize import connected_components

    ids = df.select(F.col(id_col).alias("orig_id")).distinct().withColumn(
        "id", F.col("orig_id").cast("string")
    )
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(edges)  # only ids that appear in a pair
    # keeper per component from the SMALL paired-id side (components cover
    # only ids that appear in a pair); the full 1.28M-id table is joined
    # exactly once, against two broadcast-size maps
    keepers = (
        comp.join(ids.select("id", "orig_id"), "id")
        .groupBy("component")
        .agg(F.min("orig_id").alias("keeper"))
    )
    return (
        ids.join(comp, "id", "left")
        .join(keepers, "component", "left")
        .select(
            F.col("orig_id").alias("id"),
            F.coalesce("keeper", F.col("orig_id")).alias("keeper"),
            (F.col("orig_id") == F.coalesce("keeper", F.col("orig_id"))).alias("keep"),
        )
    )
