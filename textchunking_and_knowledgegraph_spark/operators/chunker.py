"""The chunking operator -- heading-tree parse + LumberChunker-semantics packing.

Re-expresses the reference's signature dataflow op as one Arrow-batched
``mapInPandas`` pass (one source row -> N chunk rows; no shuffle needed because
a document is a single row -- only the upstream salted repartition moves data).

Reference semantics re-derived (NOT ported):
  - heading-tree stack parse            `Parser/MD_section_parser.py:25-50`
  - length policy OK=[600,800] / SMALL / LARGE, hard cap 1000
                                        `Parser/TextBook_LumberChunker.py:318-325`,
                                        chunk contract 600-1000 `README.md:3`
  - SMALL chunks absorb following text until >=600 (queue-absorb)
                                        `Parser/TextBook_LumberChunker.py:78-87,204-221`
  - LARGE chunks split at sentence boundaries into 600-800 pieces
                                        `Parser/TextBook_LumberChunker.py:223-261`
  - markdown-block protection (tables/LaTeX/images never split)
                                        `Parser/TextBook_LumberChunker.py:327-378`
  - sentence segmentation: deterministic regex on CJK/Latin terminators
    replacing spaCy (T9 in SURVEY.md 2.7) -- spaCy is unavailable and
    non-deterministic at scale
  - TOC (root title 目录) book skip     `Parser/TextBook_LumberChunker.py:470-473`
  - knowledge/question node classification: deterministic heading heuristic
    replacing the DeepSeek 1/0 prompt (`Parser/TextBook_LumberChunker.py:293-315`);
    the question-regexes mirror `Parser/Chunking_TextBook_Questions.py:23`

The ``overlap`` parameter implements the north rule's "recursive fixed-overlap
chunking" variant: when >0, each emitted chunk's last ``overlap`` characters
are carried into the next chunk; it must lie in [0, MIN_LEN) (see
``check_overlap``). Default 0 = reference parity (chunks
partition the text exactly; reassembly == source), which the golden tests
freeze. POLICY IS FROZEN -- any change must regenerate goldens in the same
commit (SURVEY.md 7.4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame

from pyspark.sql import types as T

from ..sources.io import CHUNK_SCHEMA
from .extract import _CODE_EXTRACTORS

# contract/verification twin of CHUNK_SCHEMA: + slicing provenance so the
# kg_chunks oracle can re-cut chunk text from the section sentence stream
CHUNK_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("sec_ord", T.IntegerType(), False),
        T.StructField("stream_start", T.LongType(), False),
        # carried on the FIRST emitted chunk of each section only (linear
        # storage; repeating it per chunk row writes stream x n_chunks
        # bytes) -- consumers window it back with first_value() over the
        # (doc_id, sec_ord) partition
        T.StructField("sec_stream", T.StringType(), True),
        *CHUNK_SCHEMA.fields,
    ]
)

# -- frozen policy constants (reference `_check_len`) -------------------------
MIN_LEN = 600
TARGET_MAX = 800
HARD_MAX = 1000

_HEADING_RE = re.compile(r"^(#+)\s*(.*)")  # `MD_section_parser.py:35`
_QUESTION_TITLE_RE = re.compile(r"练习|复习题|复习与提高|习题|思考|复习巩固|exercise", re.IGNORECASE)
_TOC_TITLE = "目录"

# Markdown-block protection patterns (T8) -- protected spans are atomic tokens
# for the sentence splitter and are restored verbatim into chunk text.
_TABLE_RE = re.compile(r"<table.*?>.*?</table>", re.DOTALL)
_LATEX_RE = re.compile(r"\$\$.*?\$\$|\$.*?\$|\\\[.*?\\\]|\\\(.*?\\\)", re.DOTALL)
_IMAGE_RE = re.compile(r"!\[.*?\]\(.*?\)")

_SENT_BOUNDARY_RE = re.compile(r"(?<=[。！？；])|(?<=[.!?;])\s+")

# languages chunked as code (physical lines, indentation kept) -- exactly
# the languages that get a code extractor instead of SVO
_CODE_LANGS = frozenset(_CODE_EXTRACTORS)


# Private-use-area sentinels: cannot occur in real text, so the splitter
# regexes never fire inside a protected span.
_PH_OPEN = "\ue000"
_PH_CLOSE = "\ue001"
_PLACEHOLDER_RE = re.compile(_PH_OPEN + r"(\d+)" + _PH_CLOSE)


def protect_blocks(text: str) -> tuple[str, list[str]]:
    """Replace tables / LaTeX / images with indexed placeholders so the
    sentence splitter never cuts through them (T8 semantics)."""
    saved: list[str] = []

    def _stash(m: re.Match) -> str:
        saved.append(m.group(0))
        return f"{_PH_OPEN}{len(saved) - 1}{_PH_CLOSE}"

    text = _TABLE_RE.sub(_stash, text)
    text = _LATEX_RE.sub(_stash, text)
    text = _IMAGE_RE.sub(_stash, text)
    return text, saved


def restore_blocks(text: str, saved: list[str]) -> str:
    return _PLACEHOLDER_RE.sub(lambda m: saved[int(m.group(1))], text)


def split_sentences(text: str, code: bool = False) -> list[str]:
    """Deterministic sentence segmentation (T9 replacement).

    Prose: newline-bounded, then split after CJK terminators 。！？； and
    after Latin [.!?;] followed by whitespace. Code: physical lines.
    """
    if code:
        return [ln for ln in text.split("\n") if ln.strip()]
    out: list[str] = []
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        for piece in _SENT_BOUNDARY_RE.split(line):
            piece = piece.strip()
            if piece:
                out.append(piece)
    return out


def check_overlap(overlap: int) -> None:
    """Reject an ``overlap`` outside [0, MIN_LEN): a hard split advances by
    ``TARGET_MAX - overlap`` characters, so from ``TARGET_MAX`` on packing
    never ends, and just below it each chunk advances a few characters
    (overlap=799 turns 1,200 chars into 201 chunks)."""
    if not 0 <= overlap < MIN_LEN:
        raise ValueError(f"overlap must be in [0, {MIN_LEN}), got {overlap!r}")


def pack_spans(
    sentences: list[str],
    min_len: int = MIN_LEN,
    target_max: int = TARGET_MAX,
    hard_max: int = HARD_MAX,
    overlap: int = 0,
    joiner: str = " ",
) -> tuple[str, list[tuple[int, int]]]:
    """Greedy sentence packing under the frozen LumberChunker length policy.

    Returns the joined sentence stream plus one (start, len) span per chunk;
    every chunk is the slice ``stream[start:start+len]``. Guarantees: every
    chunk <= hard_max; every non-final chunk >= min_len; target band
    [min_len, target_max] hit whenever sentence granularity allows. SMALL
    buffers absorb following sentences past target_max (up to hard_max)
    rather than emitting undersized chunks -- the reference's question-queue
    absorb semantics.

    With ``overlap`` > 0 a chunk after a soft boundary starts with the last
    ``min(overlap, len)`` characters of its predecessor plus the joiner; a
    hard split advances by ``target_max - overlap``. At overlap=0 the spans
    make the packing's OUTPUT relationship checkable in plain SQL: every
    chunk is a contiguous slice of the stream; consecutive chunks leave a
    gap of exactly one joiner char at a soft boundary and zero at a hard
    split; the first chunk starts at 0 and the last ends at the stream end
    -- the kg_chunks oracle re-cuts the text with substr and verifies
    coverage + the [1,1000]/>=600 length contract from these facts alone."""
    check_overlap(overlap)
    sents = [s for s in sentences if s]
    stream = joiner.join(sents)
    spans: list[tuple[int, int]] = []
    pos = 0    # stream offset where the current buffer starts
    blen = 0   # current buffer length
    off = 0    # stream offset of the current sentence
    for s in sents:
        s_start = off
        off += len(s) + len(joiner)
        if blen == 0:
            pos, blen = s_start, len(s)
        elif blen + len(joiner) + len(s) <= target_max:
            blen += len(joiner) + len(s)
        elif blen >= min_len:
            spans.append((pos, blen))
            # carry the buffer's tail: step back over the joiner and keep
            # min(overlap, blen) characters before it
            keep = min(overlap, blen)
            pos = s_start - len(joiner) - keep if keep else s_start
            blen = s_start + len(s) - pos
        else:
            blen += len(joiner) + len(s)  # SMALL absorb
        while blen > hard_max:  # LARGE: hard split at the target ceiling
            spans.append((pos, target_max))
            pos += target_max - overlap
            blen -= target_max - overlap
    if blen and stream[pos : pos + blen].strip():
        spans.append((pos, blen))
    return stream, spans


def _sentences(text: str, code: bool) -> list[str]:
    """Protect atomic blocks -> split sentences -> restore per sentence.
    Restoring before packing mirrors the reference (which rebuilds the
    sentence queue with blocks inlined, `TextBook_LumberChunker.py:363-376`):
    a protected block is never *sentence*-split, and packing sees true
    lengths. Code is split into physical lines, unprotected."""
    if code:
        return split_sentences(text, code=True)
    protected, saved = protect_blocks(text)
    return [restore_blocks(s, saved) for s in split_sentences(protected)]


def chunk_text(text: str, code: bool = False, overlap: int = 0) -> list[str]:
    """Sentence-split and pack one section body; returns the chunk texts."""
    stream, spans = pack_spans(_sentences(text, code), overlap=overlap)
    return [stream[a : a + n] for a, n in spans]


@dataclass
class _Section:
    title: str
    level: int
    parent_title: str | None
    is_root: bool
    kind: str  # 'knowledge' | 'question'
    lines: list[str] = field(default_factory=list)


def parse_sections(text: str, fallback_title: str) -> list[_Section]:
    """Stack-based heading parse, flattened to a section list in document
    order (adjacency info retained as parent_title).

    Mirrors the semantics of `MD_section_parser.py:25-50`: a heading of level
    L pops the stack to depth < L; non-heading lines accrue to the innermost
    open section. Content before any heading -- and documents with no headings
    at all (code files) -- land in a synthetic root section named
    ``fallback_title``.
    """
    sections: list[_Section] = []
    # (title, level) stack; parallels the reference's Node stack
    stack: list[tuple[str, int]] = []
    current: _Section | None = None

    def _kind(title: str) -> str:
        return "question" if _QUESTION_TITLE_RE.search(title) else "knowledge"

    for line in text.split("\n"):
        if line.strip() == "":
            continue  # F1 blank-line filter `MD_section_parser.py:33-34`
        m = _HEADING_RE.match(line)
        if m:
            level = len(m.group(1))
            title = m.group(2).strip()
            while stack and stack[-1][1] >= level:
                stack.pop()
            parent = stack[-1][0] if stack else None
            stack.append((title, level))
            current = _Section(
                title=title,
                level=level,
                parent_title=parent,
                is_root=parent is None,
                kind=_kind(title),
            )
            sections.append(current)
        else:
            if current is None:
                current = _Section(
                    title=fallback_title, level=0, parent_title=None, is_root=True,
                    kind="knowledge",
                )
                sections.append(current)
            current.lines.append(line)
    return sections


def _chunk_row(row: dict, overlap: int) -> Iterator[tuple[dict, int, str, int]]:
    """One source row -> one ``(span, sec_ord, sec_stream, stream_start)``
    per emitted chunk. Pure function, runs inside mapInPandas. ``span``
    holds the chunk's position fields (ord, section fields, char_start,
    char_len); its text is ``sec_stream[stream_start:stream_start+char_len]``.
    Each section is packed once."""
    content = row["content"] or ""
    code = (row["lang"] or "").lower() in _CODE_LANGS
    sections = parse_sections(content, row["path"].rsplit("/", 1)[-1])
    # F8: skip TOC books (root title 目录)
    if sections and sections[0].is_root and sections[0].title == _TOC_TITLE:
        return
    ord_ = 0
    char_start = 0
    for sec_ord, sec in enumerate(sections):
        body = "\n".join(sec.lines)
        if not body.strip():
            continue
        stream, spans = pack_spans(_sentences(body, code), overlap=overlap)
        for start, n in spans:
            if not stream[start : start + n].strip():
                continue  # F7 empty-chunk filter
            span = {
                "ord": ord_,
                "level": sec.level,
                "parent_title": sec.parent_title,
                "section_title": sec.title,
                "is_root": sec.is_root,
                "section_kind": sec.kind,
                "char_start": char_start,
                "char_len": n,
            }
            yield span, sec_ord, stream, start
            char_start += n
            ord_ += 1


def chunk_documents(
    source: DataFrame, overlap: int = 0, with_spans: bool = False
) -> DataFrame:
    """source table (+sha, doc_id) -> chunk table.

    ``mapInPandas`` (Arrow-batched): embarrassingly parallel at file
    granularity, zero shuffle. Upstream callers apply
    ``sources.io.salted_repartition`` when the repo distribution is skewed.

    ``with_spans=True`` (contract/verification path, overlap=0 only) adds
    (sec_ord, stream_start, sec_stream) provenance columns so an external
    SQL oracle can re-cut every chunk from its section's sentence stream
    and verify coverage + the length contract (see pack_spans)."""
    check_overlap(overlap)
    if with_spans and overlap:
        raise ValueError("with_spans supports overlap=0 only (spans are "
                         "contiguous stream slices)")
    prov = ["repo", "path", "commit", "lang", "sha", "doc_id"]
    schema = CHUNK_SPAN_SCHEMA if with_spans else CHUNK_SCHEMA

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        field_names = [f.name for f in schema.fields]
        for pdf in batches:
            out: list[dict] = []
            for row in pdf[prov + ["content"]].to_dict("records"):
                prev_sec = None
                for span, sec_ord, stream, start in _chunk_row(row, overlap):
                    rec = {
                        **span,
                        **{k: row[k] for k in prov},
                        "chunk_id": f"{row['doc_id']}:{span['ord']}",
                        "text": stream[start : start + span["char_len"]],
                    }
                    if with_spans:
                        # the stream rides the first EMITTED chunk of its
                        # section only (linear, not per-row); F7 may drop a
                        # whitespace-only slice, so "first emitted" rather
                        # than "first span"
                        rec["sec_ord"] = sec_ord
                        rec["stream_start"] = start
                        rec["sec_stream"] = None if sec_ord == prev_sec else stream
                        prev_sec = sec_ord
                    out.append(rec)
            yield pd.DataFrame(out, columns=field_names)

    return source.select(*prov, "content").mapInPandas(_map_batches, schema=schema)


def chunk_length_stats(chunks: DataFrame) -> DataFrame:
    """A1/S11 (`Parser/ChunkingStat.py:11-41`): chunk-length mean/variance +
    a true 100-char-bucket histogram (per-bucket counts), per (repo, lang).

    Two-level aggregation: first (repo, lang, bucket) counts + partial sums
    (map-side combinable at bucket granularity), then a tiny rollup to one
    row per (repo, lang). The histogram is serialized to a sortable
    ``bucket:count`` string -- array columns crash pandas-based result
    canonicalizers (round-1 driver: "unhashable type: 'list'")."""
    from pyspark.sql import functions as F

    per_bucket = (
        chunks.groupBy(
            "repo", "lang",
            (F.floor(F.col("char_len") / 100) * 100).cast("int").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("char_len").alias("s"),
            F.sum(F.col("char_len").cast("long") * F.col("char_len")).alias("sq"),
        )
    )
    agg = (
        per_bucket.groupBy("repo", "lang")
        .agg(
            F.sum("n").alias("n_chunks"),
            F.sum("s").alias("sum_len"),
            F.sum("sq").alias("sum_sq"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("bucket", "n"))),
                    lambda s: F.concat_ws(
                        ":", s["bucket"].cast("string"), s["n"].cast("string")
                    ),
                ),
            ).alias("len_hist"),
        )
    )
    return agg.select(
        "repo", "lang", "n_chunks", "sum_len",
        F.round(F.col("sum_len").cast("double") / F.col("n_chunks"), 4).alias("mean_len"),
        F.when(
            F.col("n_chunks") > 1,
            F.round(
                (F.col("sum_sq").cast("double")
                 - F.col("sum_len").cast("double") * F.col("sum_len") / F.col("n_chunks"))
                / (F.col("n_chunks") - 1), 4),
        ).otherwise(F.lit(0.0)).alias("var_len"),
        "len_hist",
    )
