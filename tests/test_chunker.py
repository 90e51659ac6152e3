"""Chunker unit tests: length-policy invariants, block protection, tree parse.

Contract (frozen, /root/reference/Parser/TextBook_LumberChunker.py:318-325 +
README.md:3): chunks <= 1000 chars; non-final chunks >= 600; protected
blocks never sentence-split; reassembly == source (overlap=0).
"""

import re
import signal

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from textchunking_and_knowledgegraph_spark import job
from textchunking_and_knowledgegraph_spark.operators.chunker import (
    HARD_MAX,
    MIN_LEN,
    _chunk_row,
    chunk_documents,
    chunk_text,
    pack_spans,
    parse_sections,
    protect_blocks,
    restore_blocks,
    split_sentences,
)
from textchunking_and_knowledgegraph_spark.operators.extract import doc_facts
from textchunking_and_knowledgegraph_spark.sources.io import SOURCE_SCHEMA, scan_source
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df


def _pack(sentences, **kw):
    stream, spans = pack_spans(sentences, **kw)
    return [stream[a:a + n] for a, n in spans]


def test_pack_length_policy():
    sents = ["x" * 50 + "."] * 40  # 40 sentences of 51 chars
    chunks = _pack(sents)
    assert all(len(c) <= HARD_MAX for c in chunks)
    assert all(len(c) >= MIN_LEN for c in chunks[:-1])


def test_pack_small_absorb():
    # a small buffer followed by a medium sentence must be absorbed, not
    # emitted undersized (queue-absorb semantics)
    chunks = _pack(["a" * 100, "b" * 750])
    assert len(chunks) == 1
    assert len(chunks[0]) == 851


def test_pack_giant_sentence_hard_split():
    chunks = _pack(["g" * 5000])
    assert all(len(c) <= HARD_MAX for c in chunks)
    assert sum(len(c) for c in chunks) == 5000


def test_pack_overlap():
    chunks = _pack(["s" * 100 + "."] * 30, overlap=50)
    assert len(chunks) >= 2
    for a, b in zip(chunks, chunks[1:]):
        assert b.startswith(a[-50:])


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet="abc词 ", min_size=1, max_size=300), max_size=40))
def test_pack_policy_property(sents):
    chunks = _pack([s for s in sents if s.strip()])
    assert all(len(c) <= HARD_MAX for c in chunks)
    assert all(len(c) >= MIN_LEN for c in chunks[:-1])


def test_protect_restore_roundtrip():
    text = "句子一。<table><tr><td>x.y!z</td></tr></table>句子二。$$a. b$$末尾！![img](a.png)"
    prot, saved = protect_blocks(text)
    assert "<table>" not in prot and "$$" not in prot and "![" not in prot
    assert restore_blocks(prot, saved) == text


def test_blocks_never_split():
    table = "<table><tr><td>" + "内. 容! " * 30 + "</td></tr></table>"
    text = ("前文句子。" * 20) + table + ("后文句子。" * 20)
    chunks = chunk_text(text)
    joined = "".join(chunks)
    assert table in joined
    # the table appears intact inside exactly one chunk
    assert sum(1 for c in chunks if table in c) == 1


def test_reassembly_superset():
    text = "\n".join("数据句子编号%d。" % i for i in range(200))
    chunks = chunk_text(text)
    # overlap=0: every sentence appears exactly once, in order
    joined = " ".join(chunks)
    for i in range(200):
        assert ("数据句子编号%d。" % i) in joined


def test_split_sentences_cjk_latin():
    s = split_sentences("你好。世界！Latin one. Latin two? 分号；结尾")
    assert s == ["你好。", "世界！", "Latin one.", "Latin two?", "分号；", "结尾"]


def test_parse_sections_tree():
    md = "# 第一章\n导语。\n## 1.1 概念\n内容甲。\n### 1.1.1 细节\n内容乙。\n## 1.2 性质\n内容丙。"
    secs = parse_sections(md, "f.md")
    assert [(s.title, s.level, s.parent_title, s.is_root) for s in secs] == [
        ("第一章", 1, None, True),
        ("1.1 概念", 2, "第一章", False),
        ("1.1.1 细节", 3, "1.1 概念", False),
        ("1.2 性质", 2, "第一章", False),
    ]
    assert secs[0].lines == ["导语。"]


def test_parse_sections_question_kind():
    md = "# 第一章\n## 习题1.1\n做题。\n## 1.2 概念\n学习。"
    secs = parse_sections(md, "f")
    kinds = {s.title: s.kind for s in secs}
    assert kinds["习题1.1"] == "question"
    assert kinds["1.2 概念"] == "knowledge"


def test_chunk_documents_spark(spark):
    src, _ = corpus_df(spark)
    chunks = chunk_documents(scan_source(spark, src)).cache()
    pdf = chunks.toPandas()
    assert len(pdf) > 0
    assert (pdf["char_len"] <= HARD_MAX).all()
    assert (pdf["char_len"] == pdf["text"].str.len()).all()
    # TOC doc skipped entirely (F8)
    assert not pdf["path"].eq("books/toc.md").any()
    # empty / whitespace docs emit nothing
    assert not pdf["path"].isin(["empty.txt", "ws.txt"]).any()
    # ord is dense per doc
    for _, g in pdf.groupby("doc_id"):
        assert sorted(g["ord"]) == list(range(len(g)))
    # sha invariant: every chunk row carries a 64-hex sha
    assert pdf["sha"].str.match(re.compile(r"^[0-9a-f]{64}$")).all()
    # giant single line hard-split into <=1000 pieces covering all 12000 chars
    giant = pdf[pdf["path"] == "giant.txt"]
    assert giant["char_len"].sum() == 12000


def test_overlap_out_of_range_fails_fast(spark):
    """An overlap outside [0, MIN_LEN) is refused with a ValueError before
    any packing or Spark job: at overlap >= TARGET_MAX a hard split would
    advance by <= 0 chars and never end. The alarm bounds the test if the
    guard is lost."""

    def _hang(*_):
        raise TimeoutError("packing did not terminate")

    prev = signal.signal(signal.SIGALRM, _hang)
    signal.alarm(10)
    try:
        src = spark.createDataFrame([], SOURCE_SCHEMA)
        for bad in (-1, MIN_LEN, 799, 800, 5000):
            with pytest.raises(ValueError, match="overlap"):
                pack_spans(["x" * 1200], overlap=bad)
            with pytest.raises(ValueError, match="overlap"):
                chunk_text("x" * 1200, overlap=bad)
            with pytest.raises(ValueError, match="overlap"):
                chunk_documents(src, overlap=bad)
            with pytest.raises(ValueError, match="overlap"):
                doc_facts(src, overlap=bad)
        # the CLI refuses it before starting a session
        with pytest.raises(SystemExit) as exc:
            job.main(["--source", "unused.parquet", "--overlap", "800"])
        assert exc.value.code == 2
        # the largest legal overlap still packs 1,200 chars into 2 chunks
        chunks = chunk_text("x" * 1200, overlap=MIN_LEN - 1)
        assert [len(c) for c in chunks] == [800, 999]
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


def test_cpp_alias_chunks_as_code():
    """Every language with a code extractor is chunked as code: "c++"
    (extracted with the C/C++ extractor) must keep its indentation and
    line structure exactly like "cpp"."""
    body = "\n".join(
        f"    int field_{i} = compute(value_{i}); total += field_{i};"
        for i in range(40)
    )
    content = "#include <vector>\nint main() {\n" + body + "\n}\n"

    def chunks(lang):
        row = {"content": content, "lang": lang, "path": "src/main.cc"}
        return [(span, stream[start:start + span["char_len"]])
                for span, _, stream, start in _chunk_row(row, 0)]

    cpp = chunks("cpp")
    assert len(cpp) > 1
    assert any(text.startswith("    int field_") for _, text in cpp)
    assert chunks("c++") == cpp
    assert chunks("C++") == cpp
