"""Connected-components tests: chains, cliques, singletons, determinism
(SURVEY.md 5.3). Small graphs take the one-task kernel (edge sets up to
``_LOCAL_CC_EDGES``); tests reach the distributed loop by patching the
gate."""

import random
import time
import tracemalloc
from unittest import mock

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.operators import canonicalize
from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
    normalization_alias_edges,
)

# gate values that force each plan (-1 sends even an empty edge set to the loop)
_GATES = {"local": canonicalize._LOCAL_CC_EDGES, "loop": -1}


@pytest.fixture(params=sorted(_GATES))
def cc_path(request, monkeypatch):
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", _GATES[request.param])
    return request.param


def _cc(spark, pairs):
    t = "long" if any(isinstance(x, int) for p in pairs for x in p) else "string"
    edges = spark.createDataFrame(pairs, f"src {t}, dst {t}")
    return {r.id: r.component for r in connected_components(edges).collect()}


def _union_find_oracle(pairs):
    """Pure-Python union-find: id -> min id of its component, over the
    edges with two non-null, distinct endpoints."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_chain(spark):
    comp = _cc(spark, [("b", "c"), ("c", "d"), ("d", "e"), ("a", "b")])
    assert set(comp.values()) == {"a"}


def test_cc_two_components(spark):
    comp = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert comp["a"] == comp["b"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"


def test_cc_clique_and_selfloop(spark):
    comp = _cc(spark, [("p", "q"), ("q", "r"), ("p", "r"), ("s", "s")])
    assert comp["p"] == comp["q"] == comp["r"] == "p"
    # pure self-loop vertices are filtered (a != b); 's' absent
    assert "s" not in comp


def test_cc_long_chain_converges(spark):
    # chain of 30 -> needs several min-propagation rounds
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)]
    comp = _cc(spark, pairs)
    assert set(comp.values()) == {"n00"}
    assert len(comp) == 31


def test_cc_cases_on_the_loop(spark, monkeypatch):
    """The chain, two-component, clique/self-loop and long-chain cases
    above, on the distributed loop."""
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", -1)
    for pairs in (
        [("b", "c"), ("c", "d"), ("d", "e"), ("a", "b")],
        [("a", "b"), ("x", "y"), ("y", "z")],
        [("p", "q"), ("q", "r"), ("p", "r"), ("s", "s")],
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)],
    ):
        assert _cc(spark, pairs) == _union_find_oracle(pairs), pairs


def test_cc_round_cap_raises(spark, monkeypatch):
    """A graph still changing after _MAX_ROUNDS rounds is an error, not a
    set of unconverged labels."""
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", -1)
    monkeypatch.setattr(canonicalize, "_MAX_ROUNDS", 1)
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)]
    with pytest.raises(RuntimeError, match="_MAX_ROUNDS=1"):
        _cc(spark, pairs)


# numeric strings ("10" < "2"), CJK, and a BMP/astral pair whose UTF-16
# order (surrogates first) differs from code-point = UTF-8 byte order
_IDS = ["1", "2", "10", "100", "a", "B", "é", "函数", "概念", "\uff01", "😀", "𝔘", None]


# long ids: numeric order (10 > 2), negatives, and values past 32 bits
_LONG_IDS = [1, 2, 10, 100, -3, 2**31, 2**40, -(2**62), None]


def _pairs_of(ids):
    return st.lists(st.tuples(st.sampled_from(ids), st.sampled_from(ids)), max_size=12)


@settings(max_examples=12, deadline=None)
@given(st.one_of(_pairs_of(_IDS), _pairs_of(_LONG_IDS)))
@example([])
@example([("10", "2"), ("2", "10"), ("2", "10"), ("😀", "\uff01"), ("a", "a"),
          (None, "x"), ("y", None), (None, None), ("函数", "概念"), ("1", "1")])
@example([(10, 2), (2, 10), (2**40, -3), (-3, 10), (100, 100), (None, 7),
          (2**31, None), (-(2**62), 2**31)])
def test_cc_paths_match_union_find_oracle(spark, pairs):
    want = _union_find_oracle(pairs)
    for gate in _GATES.values():
        with mock.patch.object(canonicalize, "_LOCAL_CC_EDGES", gate):
            assert _cc(spark, pairs) == want, gate


def test_dedup_decisions_typed_keeper(spark, cc_path):
    """Components run on the ids in their own type, so the keeper is the
    min in that type: 2 for long ids, "10" for string ids ("10" < "2").
    A random long-id graph (negatives, values past 32 bits) keeps the
    union-find oracle's component minimum."""
    from textchunking_and_knowledgegraph_spark.operators.dedup import dedup_decisions

    def decisions(ids, pairs, t):
        docs = spark.createDataFrame([(i,) for i in ids], f"doc_id {t}")
        pairs = spark.createDataFrame(pairs, f"id_a {t}, id_b {t}")
        return {r.id: (r.keeper, r.keep) for r in dedup_decisions(docs, pairs).collect()}

    out = decisions((2, 3, 7, 10, 20), [(10, 2), (20, 3)], "long")
    assert out == {2: (2, True), 10: (2, False), 3: (3, True), 20: (3, False),
                   7: (7, True)}
    out = decisions(("2", "3", "7", "10", "20"), [("10", "2"), ("20", "3")], "string")
    assert out == {"10": ("10", True), "2": ("10", False), "20": ("20", True),
                   "3": ("20", False), "7": ("7", True)}

    rng = random.Random(3)
    ids = rng.sample(range(-(2**40), 2**40), 60)
    pairs = [tuple(rng.sample(ids, 2)) for _ in range(45)]
    comp = _union_find_oracle(pairs)
    out = decisions(ids, pairs, "long")
    assert out == {i: (comp.get(i, i), comp.get(i, i) == i) for i in ids}


def test_cc_reads_its_input_once(spark, cc_path):
    """Both directions of every edge come from one evaluation of the input
    plan: a union of two selects ran an upstream UDF (such as the near-dup
    verify stage) once per direction."""
    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def counted(s: pd.Series) -> pd.Series:
        calls.add(len(s))
        return s

    base = spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)], "a long, b long")
    edges = base.select(counted("a").alias("src"), F.col("b").alias("dst"))
    assert len(connected_components(edges).collect()) == 40
    assert calls.value == 20


def test_local_kernel_is_bounded_at_the_gate():
    """The one-task kernel on a gate-sized edge set shaped to need many
    rounds: a chain over shuffled ids (a sorted chain converges in one
    round). In-process; tracemalloc sees numpy's buffers as well as Python
    objects. Here: ~2 s and ~82 MB at 1M rows."""
    n = canonicalize._LOCAL_CC_EDGES // 2
    names = [f"doc-{i:09d}" for i in range(n + 1)]
    random.Random(5).shuffle(names)
    a, b = names[:-1], names[1:]
    edges = pd.DataFrame({"a": a + b, "b": b + a})
    assert len(edges) == 2 * n <= canonicalize._LOCAL_CC_EDGES
    tracemalloc.start()
    t = time.perf_counter()
    try:
        out = pd.concat(canonicalize._label_components(iter([edges])))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    took = time.perf_counter() - t
    assert len(out) == n + 1
    assert set(out["component"]) == {min(names)}
    assert peak < 128 << 20, peak
    assert took < 10, took


def test_normalization_alias_edges(spark):
    names = spark.createDataFrame(
        [{"name": n} for n in ["函数的概念", "函数概念", "函数 概念", "集合"]]
    )
    edges = {(r.src, r.dst) for r in normalization_alias_edges(names).collect()}
    # all three 函数概念 variants collapse to the min name; 集合 untouched
    assert edges == {("函数概念", "函数 概念"), ("函数的概念", "函数 概念")}


def test_canonicalize_triples_maps_endpoints(spark):
    triples = spark.createDataFrame(
        [
            {"subj": "函数的概念", "pred": "上位", "obj": "幂函数", "subj_type": "section",
             "obj_type": "section", "repo": "r", "path": "p", "commit": "c", "sha": "s",
             "chunk_id": None},
            {"subj": "函数概念", "pred": "文本块", "obj": "d:0", "subj_type": "section",
             "obj_type": "chunk", "repo": "r", "path": "p", "commit": "c", "sha": "s",
             "chunk_id": "d:0"},
        ]
    )
    out = canonicalize_triples(triples).collect()
    subs = {r.subj for r in out}
    assert len(subs) == 1  # both surface forms map to one representative
    # chunk object untouched
    tb = [r for r in out if r.pred == "文本块"][0]
    assert tb.obj == "d:0"


def test_merge_dedup_deterministic_and_partitioning_invariant(spark):
    """merge_dedup must pick the SAME surviving row (struct-min over the
    non-key columns, nulls first) under any partitioning -- the property
    dropDuplicates lacked, and the one the split-lineage hash oracles
    depend on."""
    from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
        merge_dedup,
    )

    cols = ["subj", "pred", "obj", "subj_type", "obj_type",
            "repo", "path", "commit", "sha", "chunk_id"]
    rows = [
        # same (subj,pred,obj,sha) key, three attribute variants incl. a
        # NULL that must win (nulls first) and a tie-break on chunk_id
        ("a", "p", "b", None, "t2", "r", "x", "c1", "s1", "k9"),
        ("a", "p", "b", "t1", "t2", "r", "x", "c1", "s1", "k1"),
        ("a", "p", "b", None, "t2", "r", "x", "c1", "s1", "k2"),
        ("z", "p", "b", "t", "t", "r", "y", "c1", "s2", None),
    ]
    schema = ", ".join(f"{c} string" for c in cols)

    def run(n_parts):
        df = spark.createDataFrame(rows, schema).repartition(n_parts)
        return sorted(tuple(r) for r in merge_dedup(df, cols).collect())

    first = run(1)
    assert run(7) == first and run(32) == first
    keyed = {r[0]: r for r in first}
    # nulls-first struct-min: the NULL subj_type variant wins, and among
    # the two NULL rows the smaller chunk_id breaks the tie
    assert keyed["a"][3] is None and keyed["a"][9] == "k2"
    assert len(first) == 2
