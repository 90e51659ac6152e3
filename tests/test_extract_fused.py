"""Extraction and chunking outputs, pinned.

The engine has one extraction path (``doc_facts`` -> ``triples_from_facts``)
and one chunk packer (``pack_spans``). Their outputs on the synthetic corpus
(markdown heading trees, code in six languages, SVO prose, edge cases) are
pinned as (row count, order-insensitive hash over all columns). The goldens
were recorded while the earlier unfused extractor (chunk table -> structural
triples, plus a second content-extractor pass) and the separate text packer
still existed and matched them, so they keep those implementations'
behaviour as the reference."""

import re
import signal
import time
from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.operators.chunker import chunk_documents
from textchunking_and_knowledgegraph_spark.operators.extract import doc_facts
from textchunking_and_knowledgegraph_spark.plans.pipeline import (
    build_triples,
    prepared_source,
)
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df
from tools.check_contract import frame_hash

SPAN_KEYS = ["doc_id", "ord", "level", "parent_title", "section_title",
             "is_root", "section_kind", "char_start", "char_len"]


def _golden(df):
    n, _, h = frame_hash(df.toPandas())
    return n, h


def test_build_triples_golden(spark):
    raw, _ = corpus_df(spark)
    assert _golden(build_triples(spark, raw)) == (547, "1783cf4519104af9")


@pytest.mark.parametrize(
    "kwargs, want",
    [
        ({}, (255, "83f63f9c5b79e0fb")),
        ({"with_spans": True}, (255, "d8e0f2cd5bbd5599")),
        ({"overlap": 50}, (259, "90691cddbf7f6420")),
    ],
    ids=["plain", "with_spans", "overlap50"],
)
def test_chunk_documents_golden(spark, kwargs, want):
    raw, _ = corpus_df(spark)
    src = prepared_source(spark, raw)
    assert _golden(chunk_documents(src, **kwargs)) == want


def test_fused_spans_equal_chunk_table(spark):
    """doc_facts' spans and the chunk table are the same chunks, row for
    row, on every position and section field."""
    raw, _ = corpus_df(spark)
    src = prepared_source(spark, raw)
    spans = (
        doc_facts(src)
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.*")
        .select(*SPAN_KEYS)
    )
    chunks = chunk_documents(src).select(*SPAN_KEYS)
    got = Counter(map(tuple, spans.collect()))
    want = Counter(map(tuple, chunks.collect()))
    assert got == want
    # the corpus exercises multi-chunk documents and nested sections
    assert max(r[1] for r in want) > 0
    assert any(r[2] > 1 for r in want)


def test_rust_and_c_extractors_edge_cases():
    """Pure-Python extractor checks beyond the fixture shapes: generic impl
    blocks, visibility-scoped items, include variants, and the C function
    heuristic's keyword gate (control-flow headers must not become defines)."""
    from textchunking_and_knowledgegraph_spark.operators.extract import (
        _extract_c,
        _extract_rust,
    )

    rs = "\n".join(
        [
            "use std::collections::HashMap;",
            "pub(crate) struct Store<T> {}",
            "impl<T> Iterator for Store<T> {",
            "    fn next(&mut self) -> Option<T> { None }",
            "}",
            "pub async fn fetch(url: &str) {}",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_rust("a.rs", rs)}
    assert ("a.rs", "imports", "std::collections::HashMap") in got
    assert ("a.rs", "defines", "Store") in got
    assert ("Store", "implements", "Iterator") in got
    assert ("a.rs", "defines", "fetch") in got
    assert ("a.rs", "defines", "next") in got  # method fns are still defines

    c = "\n".join(
        [
            "#include <stdio.h>",
            '# include "lib/util.h"',
            "struct pair { int a; int b; };",
            "class Codec : public BaseNode {",
            "};",
            "static int add_two(int x) {",
            "    if (x > 0) {",
            "        while (x--) {}",
            "    }",
            "    return x + 2;",
            "}",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_c("b.cc", c)}
    assert ("b.cc", "imports", "stdio.h") in got
    assert ("b.cc", "imports", "lib/util.h") in got
    assert ("b.cc", "defines", "pair") in got
    assert ("b.cc", "defines", "Codec") in got
    assert ("Codec", "inherits", "BaseNode") in got
    assert ("b.cc", "defines", "add_two") in got
    defines = {o for s, p, o in got if p == "defines"}
    assert "if" not in defines and "while" not in defines


def test_cpp_rust_extractor_common_shapes():
    """Shapes the first-cut regexes silently dropped: C++ multiple
    inheritance / `final` / templated bases, and Rust `const fn` — each must
    still emit its defines (and first-base inherits) triple."""
    from textchunking_and_knowledgegraph_spark.operators.extract import (
        _extract_c,
        _extract_rust,
    )

    c = "\n".join(
        [
            "class Multi : public B, public C {",
            "};",
            "struct Fin final : E {",
            "};",
            "class Tmpl : public Base<int, char>, private Mix {",
            "};",
            "class Fwd;",  # forward declaration: no body, no defines triple
            "class V : virtual public VB {",
            "};",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_c("m.cc", c)}
    assert ("m.cc", "defines", "Multi") in got
    assert ("Multi", "inherits", "B") in got
    assert ("Fin", "inherits", "E") in got
    assert ("Tmpl", "inherits", "Base") in got
    assert ("V", "inherits", "VB") in got
    assert ("m.cc", "defines", "Fwd") not in got

    rs = "pub const fn f(x: u32) -> u32 { x }\nconst fn g() -> i32 { 0 }"
    got_rs = {(s, p, o) for s, p, o, _, _ in _extract_rust("c.rs", rs)}
    assert ("c.rs", "defines", "f") in got_rs
    assert ("c.rs", "defines", "g") in got_rs


# The method pattern before it was made linear: the reference for the
# matches (spans and names) the linear pattern must reproduce.
_JAVA_METHOD_BACKTRACKING = re.compile(
    r"(?:public|private|protected)\s+(?:static\s+)?[\w<>\[\],\s]+?\s+(\w+)\s*\([^)]*\)\s*\{"
)
_WS = st.sampled_from([" ", "  ", "\n", "\t", "\u3000", "", " \n "])
_JAVA_METHODISH = st.tuples(
    st.sampled_from(["public", "private", "protected", "publicx"]), _WS,
    st.sampled_from(["", "static "]),
    st.sampled_from(["int", "void", "List<String>", "Map<K, V>", "int[]", "x y", "的", ""]),
    _WS,
    st.sampled_from(["foo", "if", "bar1", "名字", "<T>", ""]), _WS,
    st.sampled_from(["(", "(", "", "(("]),
    st.sampled_from(["", "int a, B<c> d", "", "{"]),
    st.sampled_from([")", ")", ")", "", "))"]), _WS,
    st.sampled_from(["{", "{", "{", "", ";"]),
).map("".join)


@settings(max_examples=400, deadline=None)
@given(st.lists(
    st.one_of(_JAVA_METHODISH, st.sampled_from([" ", "\n", "}", "public", "x", "(", ")"])),
    min_size=1, max_size=5,
))
@example(["public   foo() {"])  # a whitespace-only type still counts
@example(["public static foo() {"])  # "static" is then the type
@example(["public int " * 3 + "x() {"])
def test_java_method_pattern_matches_backtracking_form(parts):
    from textchunking_and_knowledgegraph_spark.operators.extract import _JAVA_METHOD

    text = "".join(parts)
    want = [(m.span(), m.group(1)) for m in _JAVA_METHOD_BACKTRACKING.finditer(text)]
    got = [(m.span(), m.group(1)) for m in _JAVA_METHOD.finditer(text) if m.group(1)]
    assert got == want


def test_java_extractor_is_linear_on_hostile_runs():
    """Doubling a whitespace run (or a run of modifiers) must stay well
    under 4x the time. The backtracking pattern took 0.13 / 0.88 / 7.1 s at
    250 / 500 / 1,000 spaces; the alarm bounds the test if that returns."""
    from textchunking_and_knowledgegraph_spark.operators.extract import _extract_java

    def _hang(*_):
        raise TimeoutError("java extraction did not finish")

    def best_of_5(text):
        times = []
        for _ in range(5):
            t = time.perf_counter()
            list(_extract_java("A.java", text))
            times.append(time.perf_counter() - t)
        return min(times)

    prev = signal.signal(signal.SIGALRM, _hang)
    signal.alarm(20)
    try:
        for shape in (lambda n: "public " + " " * n + "x",
                      lambda n: "public " * (n // 7) + "x"):
            small, large = best_of_5(shape(100_000)), best_of_5(shape(200_000))
            assert large < 3 * small + 0.005, (small, large)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


# The class pattern before it was made linear: the reference for the
# matches (spans, name, extends list) the linear pattern must reproduce.
_JAVA_CLASS_BACKTRACKING = re.compile(
    r"(?:class|interface)\s+(\w+)(?:\s+extends\s+([\w.,\s]+?))?"
    r"(?:\s+implements\s+[\w.,\s]+)?\s*\{"
)
_JAVA_CLASSISH = st.one_of(_WS, st.sampled_from([
    "class", "interface", "subclass", "extends", "implements", "implementsX",
    "extends{", "A", "b.C", "D,E", ",", ".", "x", "的", "{", "(", "}", ";",
]))


@settings(max_examples=400, deadline=None)
@given(st.lists(_JAVA_CLASSISH, min_size=1, max_size=14))
@example(["class A extends   {"])  # an all-whitespace extends list
@example(["class A extends B  implements C, D {"])
@example(["class A extends B implements {"])  # "implements" joins the list
@example(["class A extends B x class C extends D {"])
@example(["class A B class C {"])
def test_java_class_pattern_matches_backtracking_form(parts):
    from textchunking_and_knowledgegraph_spark.operators.extract import _JAVA_CLASS

    text = "".join(parts)
    want = [(m.span(), m.group(1), m.group(2))
            for m in _JAVA_CLASS_BACKTRACKING.finditer(text)]
    got = [(m.span(), m.group(1), m.group(2))
           for m in _JAVA_CLASS.finditer(text) if m.group(3)]
    assert got == want


def test_java_class_pattern_is_linear_on_hostile_runs():
    """Doubling a whitespace run after ``extends`` (or a run of unclosed
    declarations) must stay well under 4x the time. The backtracking
    pattern took 0.043 / 0.274 / 2.12 s at 250 / 500 / 1,000 spaces; the
    alarm bounds the test if that returns."""
    from textchunking_and_knowledgegraph_spark.operators.extract import _extract_java

    def _hang(*_):
        raise TimeoutError("java extraction did not finish")

    def best_of_5(text):
        times = []
        for _ in range(5):
            t = time.perf_counter()
            list(_extract_java("A.java", text))
            times.append(time.perf_counter() - t)
        return min(times)

    prev = signal.signal(signal.SIGALRM, _hang)
    signal.alarm(20)
    try:
        for shape in (lambda n: "class A extends " + " " * n + "x",
                      lambda n: "class A extends B " * (n // 18) + "(",
                      lambda n: "interface A implements" + " " * n + "x"):
            small, large = best_of_5(shape(100_000)), best_of_5(shape(200_000))
            assert large < 3 * small + 0.005, (small, large)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
