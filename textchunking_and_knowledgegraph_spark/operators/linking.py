"""Entity linking: MinHash-LSH candidate blocking + exact re-rank, top-1.

Deterministic distributed replacement for the reference's per-row
retrieval+LLM linking (J1/J2 in SURVEY.md 2.3):

  - question linking: embedding top-5 + LLM pick
      `EntityLinking/Entity_Linking.py:112-129`,
      `Dify_DSL/DIFY_Entity_Linking_API.yml:155-219` (top_k 5)
  - book-title linking: retrieval top-4 + client TF-IDF char-cosine re-rank
      `EntityLinking/Entity_Linking.py:74-110`,
      `Dify_DSL/DIFY_Entity_Book_Linking_API.yml:119-134` (top_k 4)

Physical strategy (SURVEY.md 4.3): char-2gram -> n_perm minhash (fixed seeds)
-> b bands x r rows banding (default 32x2: band-match probability ~0.99 at
Jaccard 0.4, matching the CJK near-dup families in the reference
vocabularies -- char-2grams because CJK aliases like 函数概念/函数的概念
share no 3-gram at all); explode band keys on both sides; hash join on
(band_id, band_hash); exact char-2gram Jaccard re-rank of survivors;
row_number()==1 with deterministic tie-break (score desc, entity asc) --
replicating the reference's argmax-similarity W1 semantics.

The minhash signature is computed by a vectorized pandas UDF (one Arrow batch
per call) that works through the batch in blocks of at most ``_BLOCK_ITEMS``
grams: numpy hashes, permutes and min-reduces a block at a time, so a
worker's memory is bounded by the block, not the batch, and nothing is
cached between batches. Banding/join/re-rank/top-1 are pure DataFrame
algebra. The dictionary side is small (<=100k) -> its banded form is
broadcast, so the only shuffle is on the (usually much larger) mention side
-- and none at all when mentions fit the broadcast threshold.

Hand-rolled rather than pyspark.ml MinHashLSH: deterministic seeds, no MLlib
model state to checkpoint, banding exposed as plain columns (SURVEY.md 4.2).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator, Sized

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# Fixed linear-permutation parameters: h_i(x) = (a_i * x + b_i) mod p.
# Generated once from a fixed seed -- never regenerate (determinism contract).
_P = (1 << 61) - 1  # Mersenne prime
_N_PERM_DEFAULT = 64


def _perm_params(n_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(42)
    a = rng.randint(1, _P - 1, size=n_perm, dtype=np.int64)
    b = rng.randint(0, _P - 1, size=n_perm, dtype=np.int64)
    return a, b


def _char_ngrams(text: str, n: int = 2) -> set[str]:
    t = (text or "").strip().lower()
    if len(t) < n:
        return {t} if t else set()
    return {t[i : i + n] for i in range(len(t) - n + 1)}


def _md5_heads(items: list[str]) -> np.ndarray:
    """uint64 per string: its first 8 md5 bytes, big-endian. Stable across
    processes (independent of PYTHONHASHSEED); md5 rather than blake2b or a
    faster non-cryptographic hash so the DuckDB oracles can recompute it
    from `md5(s)` hex nibbles (the same engine-portability trade the
    random-walk draw makes). Not memoized: a worker keeps no vocabulary
    between calls."""
    md5 = hashlib.md5
    heads = b"".join(
        [md5(s.encode(), usedforsecurity=False).digest()[:8] for s in items]
    )
    return np.frombuffer(heads, dtype=">u8").astype(np.uint64)


# Shingles (or words) per block of a batch kernel. A block's working set is
# O(_BLOCK_ITEMS * n_perm) int64 -- ~4 MB at 64 permutations -- whatever
# the Arrow batch size; a single document larger than the budget is a
# block on its own.
_BLOCK_ITEMS = 1 << 13


def _blocks(item_sets: Iterable[Sized]) -> Iterator[list]:
    """Consecutive runs of ``item_sets`` whose sizes sum to at most
    ``_BLOCK_ITEMS`` (or a single oversized set). Lazy: only the current
    block is held."""
    block: list = []
    n = 0
    for s in item_sets:
        if block and n + len(s) > _BLOCK_ITEMS:
            yield block
            block, n = [], 0
        block.append(s)
        n += len(s)
    if block:
        yield block


def _block_layout(block: list[Sized]) -> tuple[np.ndarray, np.ndarray]:
    """(indices of the non-empty members, their start offsets in the
    flattened block) -- the ``reduceat`` segments of a block."""
    sizes = np.fromiter(map(len, block), dtype=np.int64, count=len(block))
    rows = np.flatnonzero(sizes)
    starts = np.concatenate(([0], np.cumsum(sizes[rows])[:-1]))
    return rows, starts


def _block_minhash(block: list[set[str]], a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(block), n_perm) signatures; an empty set keeps the all-zero
    sentinel row."""
    out = np.zeros((len(block), len(a)), dtype=np.int64)
    rows, starts = _block_layout(block)
    if not len(rows):
        return out
    # gram hash = md5 head >> 3, the basis the DuckDB dedup_minhash oracle
    # recomputes from `md5(gram)` hex nibbles
    hashes = _md5_heads([g for gs in block for g in gs]) >> np.uint64(3)
    uniq, inv = np.unique(hashes.astype(np.int64), return_inverse=True)
    # h_i(x) = ((a_i * (x mod P)) mod P + b_i) mod P, with the int64
    # wrap-around of the product -- the exact math the DuckDB oracle
    # replays; done in place on one (U, n_perm) table
    vals = (uniq % _P)[:, None] * a[None, :]
    np.remainder(vals, _P, out=vals)
    vals += b[None, :]
    np.remainder(vals, _P, out=vals)
    out[rows] = np.minimum.reduceat(vals[inv], starts, axis=0)
    return out


def _batch_signatures(texts: pd.Series, a: np.ndarray, b: np.ndarray) -> pd.Series:
    """Minhash over char-2grams (the linking basis)."""
    return _batch_signatures_from_sets(map(_char_ngrams, texts), a, b)


def _batch_signatures_from_sets(
    gram_sets: Iterable[set[str]], a: np.ndarray, b: np.ndarray
) -> pd.Series:
    """Minhash over arbitrary shingle sets, one int64 row of n_perm per
    set (a view into the batch's one signature array). Shared by the
    char-ngram linking basis and the word-shingle dedup basis
    (operators/dedup.py).

    The sets are consumed lazily in blocks of at most ``_BLOCK_ITEMS``
    shingles. Per block: hash the flattened shingles once, ``np.unique``
    the hashes, permute each distinct hash once, gather back and take
    ``np.minimum.reduceat`` over the per-set offsets -- no per-set Python
    loop, and memory bounded by the block, not by the Arrow batch."""
    sigs = [_block_minhash(block, a, b) for block in _blocks(gram_sets)]
    return pd.Series(list(np.concatenate(sigs)) if sigs else [], dtype=object)


def with_minhash(df: DataFrame, text_col: str, n_perm: int = _N_PERM_DEFAULT) -> DataFrame:
    """Attach array<long> minhash signature column ``sig`` (pandas UDF)."""
    a, b = _perm_params(n_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return _batch_signatures(texts, a, b)

    return df.withColumn("sig", _sig(F.col(text_col)))


def banded(df: DataFrame, bands: int, rows: int) -> DataFrame:
    """Explode the signature into (band_id, band_hash) keys. band_hash is the
    xxhash of the band's row slice -- a plain column, joinable, AQE-friendly."""
    band_cols = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.xxhash64(F.concat_ws(",", *[
                F.col("sig")[i * rows + j].cast("string") for j in range(rows)
            ])).alias("band_hash"),
        )
        for i in range(bands)
    ]
    return (
        df.withColumn("band", F.explode(F.array(*band_cols)))
        .withColumn("band_id", F.col("band.band_id"))
        .withColumn("band_hash", F.col("band.band_hash"))
        .drop("band", "sig")
    )


@F.pandas_udf(T.DoubleType())
def _jaccard(left: pd.Series, right: pd.Series) -> pd.Series:
    out = np.empty(len(left), dtype=np.float64)
    for i, (x, y) in enumerate(zip(left, right)):
        gx, gy = _char_ngrams(x), _char_ngrams(y)
        u = len(gx | gy)
        out[i] = (len(gx & gy) / u) if u else 0.0
    return pd.Series(out)


def _pair_char_tfidf_cosine(a: str, b: str) -> float:
    """Pairwise char-TF-IDF cosine similarity, exactly the reference's
    `_tfidf_cosine_distance` (`EntityLinking/Entity_Linking.py:104-110`):
    sklearn TfidfVectorizer(analyzer='char') fit on JUST the pair --
    lowercased chars (spaces included), smooth idf ln((1+n)/(1+df))+1 with
    n=2, l2 norm -- re-implemented in numpy so sklearn isn't a runtime dep
    and results are bit-deterministic."""
    a, b = (a or "").lower(), (b or "").lower()
    if not a or not b:
        return 0.0
    if a == b:
        return 1.0
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    vocab = sorted(set(ca) | set(cb))
    df = np.array([(ch in ca) + (ch in cb) for ch in vocab], dtype=np.float64)
    idf = np.log(3.0 / (1.0 + df)) + 1.0
    va = np.array([ca.get(ch, 0) for ch in vocab], dtype=np.float64) * idf
    vb = np.array([cb.get(ch, 0) for ch in vocab], dtype=np.float64) * idf
    na, nb = np.linalg.norm(va), np.linalg.norm(vb)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return float(min(1.0, va @ vb / (na * nb)))


@F.pandas_udf(T.DoubleType())
def _tfidf_cosine(left: pd.Series, right: pd.Series) -> pd.Series:
    return pd.Series([_pair_char_tfidf_cosine(x, y) for x, y in zip(left, right)])


def link_entities(
    mentions: DataFrame,
    dictionary: DataFrame,
    mention_col: str = "mention",
    entity_col: str = "entity",
    n_perm: int = _N_PERM_DEFAULT,
    bands: int = 32,
    min_score: float = 0.30,
    top_k: int = 1,
    scorer: str = "jaccard",
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """mentions[mention_col, ...] x dictionary[entity_col, ...] ->
    [mention, entity, score] top-k links per distinct mention.

    Candidate generation via LSH banding; exact re-rank by ``scorer`` --
    'jaccard' (char-ngram, the default) or 'tfidf_cosine' (the reference's
    pairwise char-TF-IDF cosine, J2 `Entity_Linking.py:94-110`);
    deterministic top-k (score desc, entity asc). Mentions with no candidate
    above ``min_score`` are absent from the result (the reference returns
    'None' -- callers left-join and coalesce).

    Join strategy: dictionaries up to ``broadcast_threshold`` rows
    broadcast their banded form (one hash join, no exchange of the mention
    side). Past the threshold -- a 100x dictionary would multiply to
    bands x entities broadcast rows and OOM every executor -- the join
    falls back to a shuffle on (band_id, band_hash), which both sides
    already carry as their natural key. The probe is a genuinely
    LIMIT-bounded count over the RAW dictionary input (CollectLimit over
    the scan, never more than threshold+1 rows, no aggregate underneath)
    -- a small eager job at plan-build time, conservative in the right
    direction: a dictionary with > threshold raw rows but few distinct
    entities takes the shuffle path, never the broadcast OOM."""
    if scorer not in ("jaccard", "tfidf_cosine"):
        raise ValueError(f"unknown scorer {scorer!r}")
    rows = n_perm // bands
    m = mentions.select(F.col(mention_col).alias("mention")).filter(
        F.length(F.trim("mention")) > 0
    ).distinct()
    d = dictionary.select(F.col(entity_col).alias("entity")).filter(
        F.length(F.trim("entity")) > 0
    ).distinct()

    mb = banded(with_minhash(m, "mention", n_perm), bands, rows)
    db = banded(with_minhash(d, "entity", n_perm), bands, rows)

    dict_is_small = (
        dictionary.limit(broadcast_threshold + 1).count() <= broadcast_threshold
    )
    cands = (
        mb.join(F.broadcast(db) if dict_is_small else db, on=["band_id", "band_hash"])
        .select("mention", "entity")
        .distinct()
    )
    score_udf = _jaccard if scorer == "jaccard" else _tfidf_cosine
    scored = cands.withColumn("score", score_udf(F.col("mention"), F.col("entity")))
    w = Window.partitionBy("mention").orderBy(F.desc("score"), F.asc("entity"))
    return (
        scored.filter(F.col("score") >= min_score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .drop("rank")
    )


def link_triples_to_dictionary(
    triples: DataFrame,
    dictionary: DataFrame,
    entity_col: str = "entity",
    min_score: float = 0.30,
) -> DataFrame:
    """Emit (section_title, linked_to, canonical_entity) edges for every
    section-type subject -- the distributed form of the Entity_self /
    Entity_father columns at `Parser/TextBook_LumberChunker.py:442-459`."""
    mentions = triples.filter(F.col("subj_type") == "section").select(
        F.col("subj").alias("mention")
    )
    links = link_entities(mentions, dictionary, entity_col=entity_col, min_score=min_score)
    return links.select(
        F.col("mention").alias("subj"),
        F.lit("linked_to").alias("pred"),
        F.col("entity").alias("obj"),
        F.lit("section").alias("subj_type"),
        F.lit("entity").alias("obj_type"),
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("sha"),
        F.lit(None).cast("string").alias("chunk_id"),
    )


def hierarchy_triples(dictionary: DataFrame) -> DataFrame:
    """G2: 下位 (hyponym) triples from per-row hierarchy paths.

    The reference (`EntityLinking/Entity_Linking.py:46-64`) walks ONE CSV
    row's consecutive non-null cells and pairs neighbors -- a lineage path,
    never a level-N x level-N+1 cross product. Distributed form: zip each
    row's ``path`` with itself shifted by one and explode -- narrow
    (per-row), no join, linear in total path length; dedup is the only
    shuffle (shared prefixes repeat across rows)."""
    pairs = F.zip_with(
        F.expr("slice(path, 1, size(path) - 1)"),
        F.expr("slice(path, 2, size(path) - 1)"),
        lambda parent, child: F.struct(parent.alias("subj"), child.alias("obj")),
    )
    return (
        dictionary.filter(F.size("path") >= 2)
        .select("domain", F.explode(pairs).alias("pair"))
        .select(
            F.col("pair.subj").alias("subj"),
            F.lit("下位").alias("pred"),
            F.col("pair.obj").alias("obj"),
            F.col("domain").alias("subj_type"),
            F.col("domain").alias("obj_type"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
