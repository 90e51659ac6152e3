"""Entity-linking tests: known alias pairs must link, disjoint strings must
not; determinism of signatures; top-1 tie-break (SURVEY.md 5.3)."""

import pandas as pd
from pyspark.sql import functions as F
from signature_oracles import minhash_signature

from textchunking_and_knowledgegraph_spark.operators.linking import (
    _batch_signatures,
    _char_ngrams,
    _perm_params,
    hierarchy_triples,
    link_entities,
)
from textchunking_and_knowledgegraph_spark.sources.synthetic import (
    synthesize_entity_dictionary,
)


def _signatures(texts, a, b):
    return [row.tolist() for row in _batch_signatures(pd.Series(texts), a, b)]


def test_signature_deterministic():
    a, b = _perm_params(64)
    s1, s2 = _signatures(["函数的概念", "函数的概念"], a, b)
    assert s1 == s2 and len(s1) == 64
    assert _signatures(["函数的概念"], a, b) == [s1]


def test_signature_similarity_monotone():
    a, b = _perm_params(128)
    s_base, s_near, s_far = _signatures(
        ["函数的概念与性质", "函数的概念与表示", "随机抽样方法"], a, b
    )
    near = sum(x == y for x, y in zip(s_base, s_near))
    far = sum(x == y for x, y in zip(s_base, s_far))
    assert near > far


def test_link_entities_known_pairs(spark):
    entities, aliases = synthesize_entity_dictionary()
    dict_df = spark.createDataFrame(entities)
    mention_rows = [
        {"mention": "函数概念"},        # near-dup of 函数的概念
        {"mention": "函数的单调性"},    # exact
        {"mention": "等差数列"},        # exact
        {"mention": "zzqqxxyy"},        # garbage -> no link
    ]
    mentions = spark.createDataFrame(mention_rows)
    links = {r.mention: r.entity for r in link_entities(mentions, dict_df).collect()}
    assert links["函数的单调性"] == "函数的单调性"
    assert links["等差数列"] == "等差数列"
    assert links.get("函数概念", "").startswith("函数的概念")
    assert "zzqqxxyy" not in links


def test_link_deterministic_tiebreak(spark):
    # two dictionary entries equally similar -> entity asc wins
    mentions = spark.createDataFrame([{"mention": "alpha beta"}])
    dict_df = spark.createDataFrame([{"entity": "alpha betb"}, {"entity": "alpha beta"}])
    out = link_entities(mentions, dict_df, min_score=0.0).collect()
    assert len(out) == 1 and out[0].entity == "alpha beta"


def test_hierarchy_triples(spark):
    # G2 path semantics: consecutive cells WITHIN one row pair up; entities
    # at adjacent levels in *different* rows must NOT pair (the round-1 bug).
    dict_df = spark.createDataFrame(
        [
            {"entity": "幂函数", "domain": "数学实体", "level": 3, "entity_id": 0,
             "path": ["数学", "函数", "幂函数"]},
            {"entity": "集合", "domain": "数学实体", "level": 2, "entity_id": 1,
             "path": ["数学", "集合"]},
            {"entity": "地理", "domain": "地理实体", "level": 1, "entity_id": 2,
             "path": ["地理"]},
        ]
    )
    got = {(r.subj, r.pred, r.obj) for r in hierarchy_triples(dict_df).collect()}
    assert got == {
        ("数学", "下位", "函数"),
        ("函数", "下位", "幂函数"),
        ("数学", "下位", "集合"),
    }
    # crucially absent: 集合 (level 2, other row) -> 幂函数 (level 3)
    assert ("集合", "下位", "幂函数") not in got


def test_hierarchy_triples_golden_seeded_dictionary(spark):
    """Exact expected edge set for the seeded dictionary: one 下位 edge per
    parent->child link of the fixture tree, nothing else (no cross products)."""
    from textchunking_and_knowledgegraph_spark.sources.synthetic import _DICT_TREE

    entities, _ = synthesize_entity_dictionary()
    got = {(r.subj, r.obj)
           for r in hierarchy_triples(spark.createDataFrame(entities)).collect()}
    want = {(parent, child) for parent, kids in _DICT_TREE.items() for child in kids}
    assert got == want
    # quadratic-blowup guard: edge count == number of tree links, not
    # sum over levels of n_k * n_{k+1}
    assert len(got) == sum(len(kids) for kids in _DICT_TREE.values())


def test_char_ngrams():
    assert _char_ngrams("abc") == {"ab", "bc"}
    assert _char_ngrams("a") == {"a"}
    assert _char_ngrams("  Ab ") == {"ab"}
    assert _char_ngrams("") == set()
    # CJK alias pair shares 2-grams (the reason for n=2)
    assert _char_ngrams("函数概念") & _char_ngrams("函数的概念") == {"函数", "概念"}


def test_tfidf_cosine_pairwise_values():
    """Pin the reference's pairwise char-TF-IDF semantics
    (`Entity_Linking.py:104-110`): identical strings -> 1.0, disjoint -> 0.0,
    lowercasing applies, and the 函数的概念/函数概念 family scores the
    hand-computed smooth-idf value."""
    from textchunking_and_knowledgegraph_spark.operators.linking import (
        _pair_char_tfidf_cosine,
    )

    assert _pair_char_tfidf_cosine("abc", "abc") == 1.0
    assert _pair_char_tfidf_cosine("abc", "xyz") == 0.0
    assert _pair_char_tfidf_cosine("ABC", "abc") == 1.0
    assert abs(_pair_char_tfidf_cosine("函数的概念", "函数概念") - 0.81818) < 1e-4
    assert _pair_char_tfidf_cosine("", "abc") == 0.0


def test_link_entities_tfidf_scorer(spark):
    """J2 path: the TF-IDF re-rank links the alias families and prefers the
    closest surface form deterministically."""
    from textchunking_and_knowledgegraph_spark.operators.linking import link_entities

    dictionary = spark.createDataFrame(
        [("函数的概念",), ("函数的单调性",), ("等差数列",)], "entity string"
    )
    mentions = spark.createDataFrame(
        [("函数概念",), ("函数的单调性质",), ("等差数列",)], "mention string"
    )
    got = {r.mention: r.entity for r in
           link_entities(mentions, dictionary, scorer="tfidf_cosine").collect()}
    assert got["函数概念"] == "函数的概念"
    assert got["函数的单调性质"] == "函数的单调性"
    assert got["等差数列"] == "等差数列"


def test_batch_signatures_equal_per_doc():
    """The shipped block-wise minhash kernel must be bit-identical to the
    per-doc reference (determinism contract), blanks and repeats included."""
    a, b = _perm_params(64)
    texts = ["函数的概念", "函数概念", "", "abc", "spark sql engine", "abc", None]
    per_doc = [minhash_signature(_char_ngrams(t), a, b) for t in texts]
    assert _signatures(texts, a, b) == per_doc


def test_link_entities_join_regimes(spark):
    """Dictionary-side safety: a dictionary under the broadcast threshold
    broadcasts its banded form; past the threshold the candidate join falls
    back to a shuffle on (band_id, band_hash) -- no unconditional broadcast
    of a 100x dictionary. Both regimes return identical links."""
    entities, aliases = synthesize_entity_dictionary()
    dict_df = spark.createDataFrame(entities)
    mentions = spark.createDataFrame(aliases)

    small = link_entities(mentions, dict_df, mention_col="alias")
    large = link_entities(
        mentions, dict_df, mention_col="alias", broadcast_threshold=0
    )

    plan_small = small._jdf.queryExecution().executedPlan().toString()
    plan_large = large._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    # the candidate join itself must NOT be broadcast in the large regime
    # (the tiny score/rank stages may still broadcast elsewhere): assert the
    # banded dictionary feeds a shuffle, i.e. some sort-merge/shuffled-hash
    # join is present and the plan differs from the broadcast one
    assert ("SortMergeJoin" in plan_large) or ("ShuffledHashJoin" in plan_large)

    k = lambda rows: {(r.mention, r.entity, round(r.score, 9)) for r in rows}
    assert k(small.collect()) == k(large.collect())
