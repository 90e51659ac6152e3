"""Triple emission: structural tree->triples + code-aware + SVO extractors.

One fused pass: ``doc_facts`` ships each document's content into Python
once (Arrow, mapInPandas) and returns its chunk spans and content triples;
``triples_from_facts`` assembles the canonical edge shape
(subj, pred, obj, subj_type, obj_type, repo, path, commit, sha, chunk_id)
from them with JVM column algebra. Three triple kinds:

G1  Structural triples from the chunk spans -- the Spark re-expression of
    the tree->table flatten at `Parser/TextBook_LumberChunker.py:381-461`:
      root content:   (chapter  同位  chapter)  + (chapter  文本块  chunk)
      nested content: (parent   上位  section)  + (section  文本块  chunk)
    The 文本块 object is the chunk_id (the chunk table holds the text) --
    the reference inlines the chunk text; we keep the edge table narrow for
    10^12-scale and join text back only at the parity boundary.
    Code/text files (no markdown headings) get (path contains_chunk chunk_id).

G5  Code-aware extractors (north-star extension, `BASELINE.json:6`):
    per-lang regex extraction of imports / defines / calls / inherits
    over whole-file content.

G5b Rule-based SVO extraction for prose: closed verb vocabulary, capitalized
    subject heuristic -- deterministic replacement for the reference's
    per-row LLM knowledge extraction (`Parser/md_paper_parser.py:491-535`).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


PRED_PEER = "同位"
PRED_HYPERNYM = "上位"
PRED_HYPONYM = "下位"
PRED_TEXTBLOCK = "文本块"
PRED_CONTAINS = "contains_chunk"


# ---------------------------------------------------------------------------
# G5: code-aware extractors (per-lang regex, whole-file granularity)
# ---------------------------------------------------------------------------

_PY_IMPORT = re.compile(r"^\s*import\s+([\w.]+)", re.M)
_PY_FROM = re.compile(r"^\s*from\s+([\w.]+)\s+import", re.M)
_PY_CLASS = re.compile(r"^\s*class\s+(\w+)\s*(?:\(([^)]*)\))?\s*:", re.M)
_PY_DEF = re.compile(r"^(\s*)def\s+(\w+)\s*\(", re.M)

_JS_IMPORT = re.compile(r"""(?:import\s+[^'"]*?from\s+|import\s+|require\s*\(\s*)['"]([^'"]+)['"]""")
_JS_CLASS = re.compile(r"class\s+(\w+)(?:\s+extends\s+([\w.]+))?")
_JS_FUNC = re.compile(r"(?:function\s+(\w+)\s*\(|(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s*)?(?:function|\([^)]*\)\s*=>))")

_JAVA_IMPORT = re.compile(r"^\s*import\s+(?:static\s+)?([\w.]+)\s*;", re.M)
# keyword, name, optional "extends" list (group 2), optional "implements"
# list, then "{" (group 3). Linear time: every run is possessive, and the
# extends list ends at the first whitespace run that is followed by an
# implements clause or by no further list character. A declaration whose run
# of [\w.,\s] ends at anything but "{" still matches, with group 3 None,
# so no keyword inside that run is scanned again (none of them can reach a
# "{" either).
_JAVA_CLASS = re.compile(
    r"(?:class|interface)\s++(\w++)"
    r"(?:\s++extends(?:\s++(?=[\w.,])|\s(?:\s(?=\s))*+)"
    r"((?:[\w.,]++|\s++(?!implements\s[\w.,\s])(?=[\w.,]))++|\s))?+"
    r"(?:\s++implements\s[\w.,\s]++)?+"
    r"\s*+(?:(\{)|(?![\w.,\s]))"
)
# modifier, whitespace, a non-empty type (type chars or whitespace), whitespace,
# then the name: the last word before "(". Linear time: the type loop is
# possessive and stops only at the whitespace before "name(", so nothing
# backtracks over a whitespace run. When the tail fails, group 1 is None and
# the match still spans the run, so the modifiers inside it are not scanned
# again (they would fail at the same "(").
_JAVA_METHOD = re.compile(
    r"(?:public|private|protected)\s"
    r"(?:[\w<>\[\],]|\s(?!\w++\s*+\())++"
    r"(?:\s(\w++)\s*+\([^)]*+\)\s*+\{)?"
)

_GO_IMPORT_BLOCK = re.compile(r"import\s*\(([^)]*)\)", re.DOTALL)
_GO_IMPORT_ONE = re.compile(r'^\s*import\s+"([^"]+)"', re.M)
_GO_IMPORT_LINE = re.compile(r'"([^"]+)"')
_GO_FUNC = re.compile(r"^func\s+(?:\([^)]*\)\s*)?(\w+)\s*\(", re.M)
_GO_TYPE = re.compile(r"^type\s+(\w+)\s+(?:struct|interface)", re.M)

_CALL = re.compile(r"\b([a-zA-Z_]\w*)\s*\(")
_KEYWORDS = {
    "if", "for", "while", "switch", "return", "def", "class", "func", "function",
    "catch", "with", "print", "len", "range", "super", "new", "import", "assert",
    "elif", "else", "try", "except", "raise", "yield", "lambda", "match",
}


def _extract_python(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for m in _PY_IMPORT.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _PY_FROM.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    classes: list[str] = []
    for m in _PY_CLASS.finditer(content):
        cls, bases = m.group(1), m.group(2)
        classes.append(cls)
        yield (path, "defines", cls, "file", "class")
        if bases:
            for b in bases.split(","):
                b = b.strip().split(".")[-1]
                if b and b not in ("object", "metaclass"):
                    yield (cls, "inherits", b, "class", "class")
    # defs + intra-function calls: track the enclosing def by indentation
    lines = content.split("\n")
    current_def: str | None = None
    current_indent = 0
    defined: set[str] = set()
    for m in _PY_DEF.finditer(content):
        defined.add(m.group(2))
    for line in lines:
        dm = re.match(r"^(\s*)def\s+(\w+)\s*\(", line)
        if dm:
            current_def = dm.group(2)
            current_indent = len(dm.group(1))
            yield (path, "defines", current_def, "file", "function")
            continue
        if current_def is not None:
            stripped = line.strip()
            if stripped and len(line) - len(line.lstrip()) <= current_indent and not stripped.startswith(("#", ")")):
                current_def = None
                continue
            for cm in _CALL.finditer(line):
                callee = cm.group(1)
                if callee in defined and callee != current_def and callee not in _KEYWORDS:
                    yield (current_def, "calls", callee, "function", "function")


def _extract_js(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for m in _JS_IMPORT.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _JS_CLASS.finditer(content):
        yield (path, "defines", m.group(1), "file", "class")
        if m.group(2):
            yield (m.group(1), "inherits", m.group(2).split(".")[-1], "class", "class")
    for m in _JS_FUNC.finditer(content):
        name = m.group(1) or m.group(2)
        if name:
            yield (path, "defines", name, "file", "function")


def _extract_java(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for m in _JAVA_IMPORT.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _JAVA_CLASS.finditer(content):
        if not m.group(3):
            continue
        yield (path, "defines", m.group(1), "file", "class")
        if m.group(2):
            base = m.group(2).strip().split(",")[0].strip().split(".")[-1]
            if base:
                yield (m.group(1), "inherits", base, "class", "class")
    for m in _JAVA_METHOD.finditer(content):
        name = m.group(1)
        if name and name not in _KEYWORDS:
            yield (path, "defines", name, "file", "function")


def _extract_go(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for block in _GO_IMPORT_BLOCK.finditer(content):
        for m in _GO_IMPORT_LINE.finditer(block.group(1)):
            yield (path, "imports", m.group(1), "file", "module")
    for m in _GO_IMPORT_ONE.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _GO_FUNC.finditer(content):
        yield (path, "defines", m.group(1), "file", "function")
    for m in _GO_TYPE.finditer(content):
        yield (path, "defines", m.group(1), "file", "class")


_RS_USE = re.compile(r"^\s*use\s+([A-Za-z_][\w:]*)", re.M)
_RS_FN = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:const\s+)?(?:async\s+)?(?:unsafe\s+)?"
    r"(?:extern\s+\"[^\"]*\"\s+)?fn\s+(\w+)",
    re.M,
)
_RS_TYPE = re.compile(
    r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:struct|enum|trait)\s+(\w+)", re.M
)
_RS_IMPL_FOR = re.compile(
    r"^\s*impl(?:<[^>]*>)?\s+([\w:]+)(?:<[^>]*>)?\s+for\s+([\w:]+)", re.M
)

_C_INCLUDE = re.compile(r'^\s*#\s*include\s*[<"]([^>"]+)[>"]', re.M)
_CPP_CLASS = re.compile(
    # name, optional `final`, optional base list (first base captured; the
    # remaining `, public C...` bases are consumed by [^{;]* -- `;` excluded
    # so a forward declaration never bridges into the next statement's `{`)
    r"\b(?:class|struct)\s+(\w+)\s*(?:final\s*)?"
    r"(?::\s*(?:(?:public|private|protected|virtual)\s+)*([\w:]+)"
    r"(?:<[^>{}]*>)?[^{;]*)?\{"
)
_C_FUNC = re.compile(
    r"^[A-Za-z_][\w:<>,\*&\s]*?[\s\*]([A-Za-z_]\w*)\s*\([^;{}()]*\)\s*\{", re.M
)


def _extract_rust(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for m in _RS_USE.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _RS_TYPE.finditer(content):
        yield (path, "defines", m.group(1), "file", "class")
    for m in _RS_FN.finditer(content):
        yield (path, "defines", m.group(1), "file", "function")
    for m in _RS_IMPL_FOR.finditer(content):
        trait = m.group(1).split("::")[-1]
        typ = m.group(2).split("::")[-1]
        yield (typ, "implements", trait, "class", "class")


def _extract_c(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    """C / C++ (shared): includes are exact; the function heuristic is a
    return-type-then-name-then-body shape with a keyword filter -- precise on
    definition-per-line code, conservative (keyword-gated) elsewhere."""
    for m in _C_INCLUDE.finditer(content):
        yield (path, "imports", m.group(1), "file", "module")
    for m in _CPP_CLASS.finditer(content):
        yield (path, "defines", m.group(1), "file", "class")
        if m.group(2):
            base = m.group(2).split("::")[-1]
            if base:
                yield (m.group(1), "inherits", base, "class", "class")
    for m in _C_FUNC.finditer(content):
        name = m.group(1)
        if name not in _KEYWORDS:
            yield (path, "defines", name, "file", "function")


_CODE_EXTRACTORS = {
    "python": _extract_python,
    "javascript": _extract_js,
    "typescript": _extract_js,
    "java": _extract_java,
    "go": _extract_go,
    "rust": _extract_rust,
    "c": _extract_c,
    "cpp": _extract_c,
    "c++": _extract_c,
}

# ---------------------------------------------------------------------------
# G5b: rule-based SVO for prose (closed verb vocabulary)
# ---------------------------------------------------------------------------

_SVO_VERBS = {
    "is": "is_a", "are": "is_a", "was": "is_a", "were": "is_a",
    "has": "has", "have": "has",
    "uses": "uses", "use": "uses",
    "contains": "contains", "contain": "contains",
    "manages": "manages", "manage": "manages",
    "includes": "includes", "include": "includes",
    "extends": "extends",
    "requires": "requires", "require": "requires",
}
_SVO_RE = re.compile(
    r"\b([A-Z][\w]*(?:\s+[A-Z][\w]*)?)\s+"
    r"(is|are|was|were|has|have|uses|use|contains|contain|manages|manage|"
    r"includes|include|extends|requires|require)\s+"
    r"(?:(?:a|an|the)\s+)?([A-Za-z][\w-]*)"
)


def _extract_svo(path: str, content: str) -> Iterator[tuple[str, str, str, str, str]]:
    for m in _SVO_RE.finditer(content):
        subj, verb, obj = m.group(1), m.group(2), m.group(3)
        yield (subj, _SVO_VERBS[verb], obj, "entity", "entity")


# ---------------------------------------------------------------------------
# Fused single-pass extraction (the hot path)
#
# Content is sent to Python exactly once and each document comes back as one
# compact row: chunk-span metadata + content triples as arrays. Chunk text
# never crosses back (the Arrow return is O(#chunks * ~100 bytes), not
# O(corpus bytes)); everything downstream (explode, dedup) is JVM column
# algebra.
# ---------------------------------------------------------------------------

DOC_FACTS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("sha", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ord", T.IntegerType(), False),
                        T.StructField("level", T.IntegerType(), False),
                        T.StructField("parent_title", T.StringType(), True),
                        T.StructField("section_title", T.StringType(), True),
                        T.StructField("is_root", T.BooleanType(), False),
                        T.StructField("section_kind", T.StringType(), False),
                        T.StructField("char_start", T.LongType(), False),
                        T.StructField("char_len", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField(
            "trips",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("subj", T.StringType(), False),
                        T.StructField("pred", T.StringType(), False),
                        T.StructField("obj", T.StringType(), False),
                        T.StructField("subj_type", T.StringType(), True),
                        T.StructField("obj_type", T.StringType(), True),
                    ]
                )
            ),
            False,
        ),
    ]
)


def doc_facts(source: DataFrame, overlap: int = 0) -> DataFrame:
    """One fused Arrow pass per document: chunk spans + content triples
    (code extractor for code langs, SVO for prose)."""
    from .chunker import _chunk_row, check_overlap

    check_overlap(overlap)
    cols = ["repo", "path", "commit", "lang", "sha", "doc_id", "content"]
    field_names = [f.name for f in DOC_FACTS_SCHEMA.fields]

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for row in pdf[cols].to_dict("records"):
                spans = [span for span, *_ in _chunk_row(row, overlap)]
                lang = (row["lang"] or "").lower()
                content = row["content"] or ""
                extractor = _CODE_EXTRACTORS.get(lang, _extract_svo)
                trips = [
                    {"subj": s, "pred": p, "obj": o, "subj_type": st, "obj_type": ot}
                    for s, p, o, st, ot in extractor(row["path"], content)
                ]
                out.append(
                    {
                        "repo": row["repo"], "path": row["path"],
                        "commit": row["commit"], "lang": row["lang"],
                        "sha": row["sha"], "doc_id": row["doc_id"],
                        "spans": spans, "trips": trips,
                    }
                )
            yield pd.DataFrame(out, columns=field_names)

    return source.select(*cols).mapInPandas(_map_batches, schema=DOC_FACTS_SCHEMA)


def triples_from_facts(facts: DataFrame) -> DataFrame:
    """JVM-side triple assembly over the fused facts table: G1 hierarchy
    and text-block triples from the spans, G5/G5b content triples from the
    extractor output (outputs pinned by goldens in
    tests/test_extract_fused.py).

    SINGLE-SCAN construction: a union of per-kind branches would re-execute
    the upstream mapInPandas once per branch (Catalyst does not dedupe common
    UDF subtrees without an exchange). Instead every document's triples are
    assembled as one array with higher-order functions (transform / filter /
    concat -- whole-stage codegen) and exploded once; the final deterministic
    MERGE dedup on (subj, pred, obj, sha) also collapses the hierarchy edge
    every chunk of a section repeats."""
    null_triple = F.lit(None).cast(
        "struct<subj:string,pred:string,obj:string,"
        "subj_type:string,obj_type:string,chunk_id:string>"
    )

    def _triple(subj, pred, obj, st, ot, chunk_id):
        return F.struct(
            subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
            F.lit(st).alias("subj_type"), F.lit(ot).alias("obj_type"),
            chunk_id.alias("chunk_id"),
        )

    def _chunk_id(s):
        return F.concat_ws(":", F.col("doc_id"), s["ord"].cast("string"))

    # (chapter 同位 chapter) root / (parent 上位 section) nested -- md only
    hier = F.filter(
        F.transform(
            "spans",
            lambda s: F.when(
                s["level"] > 0,
                _triple(
                    F.when(s["is_root"], s["section_title"]).otherwise(s["parent_title"]),
                    F.when(s["is_root"], F.lit(PRED_PEER)).otherwise(F.lit(PRED_HYPERNYM)),
                    s["section_title"],
                    "section", "section",
                    F.lit(None).cast("string"),
                ),
            ).otherwise(null_triple),
        ),
        lambda x: x.isNotNull(),
    )
    # (section 文本块 chunk) for md spans / (path contains_chunk chunk) flat
    block = F.transform(
        "spans",
        lambda s: F.when(
            s["level"] > 0,
            _triple(s["section_title"], F.lit(PRED_TEXTBLOCK), _chunk_id(s),
                    "section", "chunk", _chunk_id(s)),
        ).otherwise(
            _triple(F.col("path"), F.lit(PRED_CONTAINS), _chunk_id(s),
                    "file", "chunk", _chunk_id(s))
        ),
    )
    # content triples (code/SVO) -- types carried from the extractor
    content = F.transform(
        "trips",
        lambda t: F.struct(
            t["subj"].alias("subj"), t["pred"].alias("pred"), t["obj"].alias("obj"),
            t["subj_type"].alias("subj_type"), t["obj_type"].alias("obj_type"),
            F.lit(None).cast("string").alias("chunk_id"),
        ),
    )

    hier_struct = F.explode(F.concat(hier, block, content)).alias("e")
    out = (
        facts.select("repo", "path", "commit", "sha", "doc_id", hier_struct)
        .select(
            F.col("e.subj").alias("subj"),
            F.col("e.pred").alias("pred"),
            F.col("e.obj").alias("obj"),
            F.col("e.subj_type").alias("subj_type"),
            F.col("e.obj_type").alias("obj_type"),
            F.col("repo"), F.col("path"), F.col("commit"), F.col("sha"),
            F.col("e.chunk_id").alias("chunk_id"),
        )
    )
    # deterministic MERGE dedup (struct-min, nulls first) -- not
    # dropDuplicates' partitioning-dependent first-seen row; same single
    # map-side-combinable shuffle, and it makes the assembled triple table
    # hash-stable for the split-lineage oracle
    from .canonicalize import merge_dedup

    return merge_dedup(out, out.columns)
