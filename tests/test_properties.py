"""Property-based invariants (SURVEY.md §5.3) beyond the chunker's existing
hypothesis test: normalizer idempotence, dedup exactness, sessionization
structure. Pure-Python properties run hypothesis directly; Spark-backed ones
sample deterministically (a SparkSession per hypothesis example is too
slow, so Spark properties use a fixed seeded batch through one job)."""

import random
import string
import sys

import pytest

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_CJK = "函数概念集合表示方法性质单调奇偶的与及第章节练习复题"
_ALPHABET = string.ascii_letters + string.digits + " \n#．（），。！？" + _CJK


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=400))
def test_normalize_markdown_idempotent_py(text):
    """Applying the book-path normalizer twice == once (column expressions
    mirrored in pure python for speed)."""
    import re

    def norm(t: str) -> str:
        t = re.sub(r"(?m)^#+\s*人民教育出版社.*\n?", "", t)
        t = t.translate(str.maketrans("．（），", ".(),"))
        return t

    assert norm(norm(text)) == norm(text)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=300), st.text(alphabet=_ALPHABET, max_size=300))
def test_tfidf_cosine_bounds_and_symmetry(a, b):
    from textchunking_and_knowledgegraph_spark.operators.linking import (
        _pair_char_tfidf_cosine,
    )

    s = _pair_char_tfidf_cosine(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(s - _pair_char_tfidf_cosine(b, a)) < 1e-12
    if a and a.strip():
        assert _pair_char_tfidf_cosine(a, a) == 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHABET, min_size=0, max_size=50), max_size=20))
def test_simhash_deterministic_and_range(words_list):
    from signature_oracles import simhash64

    from textchunking_and_knowledgegraph_spark.operators.dedup import _simhash_batch

    text = " ".join(words_list)
    a, b = _simhash_batch([text, text]).tolist()
    assert a == b == simhash64(text)
    assert -(1 << 63) <= a < (1 << 63)


def test_blocks_respect_the_budget():
    from unittest import mock

    from textchunking_and_knowledgegraph_spark.operators import linking

    sets = [{1, 2, 3}, set(), {1, 2, 3, 4, 5}, {6}, {7}]
    with mock.patch.object(linking, "_BLOCK_ITEMS", 4):
        got = list(linking._blocks(iter(sets)))
    # a set larger than the budget is a block of its own
    assert got == [sets[:2], sets[2:3], sets[3:]]


# The kernels split a batch into blocks of at most _BLOCK_ITEMS shingles or
# words; a budget of a few items puts block boundaries inside every batch,
# between docs that share shingles, and makes single docs oversized.
@settings(max_examples=200, deadline=None)
@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet="ab AB\t函数　", max_size=40)),
        max_size=12,
    ),
    budget=st.integers(1, 8),
)
@example(texts=[], budget=1)
@example(texts=["", "   ", None], budget=1)
@example(texts=["a b c d e f g h i j k", "b c d", "", "a b c"], budget=3)
def test_signature_kernels_match_oracles_across_blocks(texts, budget):
    from unittest import mock

    from signature_oracles import minhash_signature, simhash64

    from textchunking_and_knowledgegraph_spark.operators import linking
    from textchunking_and_knowledgegraph_spark.operators.dedup import (
        _simhash_batch,
        _word_shingles,
    )

    a, b = linking._perm_params(64)
    with mock.patch.object(linking, "_BLOCK_ITEMS", budget):
        for shingles in (linking._char_ngrams, _word_shingles):
            got = linking._batch_signatures_from_sets(map(shingles, texts), a, b)
            assert [row.tolist() for row in got] == [
                minhash_signature(shingles(t), a, b) for t in texts
            ]
        assert _simhash_batch(texts).tolist() == [simhash64(t) for t in texts]


def test_exact_dedup_partition_invariants(spark):
    """keep marks exactly one row per sha group; group sizes sum to N."""
    rng = random.Random(7)
    rows = []
    for i in range(200):
        # force duplicate groups
        text = f"doc body {rng.randint(0, 40)}"
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from textchunking_and_knowledgegraph_spark.operators.dedup import exact_dedup

    out = exact_dedup(df).cache()
    assert out.count() == 200
    per_group = out.groupBy("sha").agg(
        F.sum(F.col("keep").cast("int")).alias("keepers"),
        F.count("*").alias("n"),
        F.first("group_size").alias("gs"),
    )
    for r in per_group.collect():
        assert r.keepers == 1
        assert r.n == r.gs


def test_sessionize_batch_invariants(spark):
    """Sessions partition each user's events; bounds ordered; no session
    contains an internal gap > threshold and consecutive sessions are
    separated by > threshold."""
    rng = random.Random(11)
    rows = []
    t = 0
    for user in range(5):
        t = 0
        for _ in range(60):
            t += rng.choice([10, 60, 2000, 4000])
            rows.append((user, t, 1.0))
    df = spark.createDataFrame(rows, "user_id long, ts long, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    from textchunking_and_knowledgegraph_spark.streaming.sessionize import (
        sessionize_batch,
    )

    sess = sessionize_batch(df, gap_seconds=1800).collect()
    assert sum(s.n_events for s in sess) == len(rows)
    by_user = {}
    for s in sess:
        assert s.session_start <= s.session_end
        by_user.setdefault(s.user_id, []).append(s)
    for user, ss in by_user.items():
        ss.sort(key=lambda s: s.session_start)
        for prev, nxt in zip(ss, ss[1:]):
            gap = (nxt.session_start - prev.session_end).total_seconds()
            assert gap > 1800, (user, prev, nxt)


# ---------------------------------------------------------------------------
# round-2 operators: pure-Python properties (hypothesis-driven)
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings
from hypothesis import strategies as st


@given(st.integers(min_value=1, max_value=99))
@settings(max_examples=60, deadline=None)
def test_cn_numeral_roundtrip(n):
    """Every 1-99 value rendered as a CJK numeral parses back to itself
    through the Python twin (the column expression is pinned equal to the
    twin in test_toc)."""
    from textchunking_and_knowledgegraph_spark.operators.toc import _cn_to_int

    digits = "零一二三四五六七八九"
    if n < 10:
        s = digits[n]
    elif n == 10:
        s = "十"
    else:
        tens, units = divmod(n, 10)
        s = (digits[tens] if tens > 1 else "") + "十" + (digits[units] if units else "")
    assert _cn_to_int(s) == n
    assert _cn_to_int(str(n)) == n  # ASCII fallback agrees


def test_hierarchy_edge_count_is_linear_in_path_length(spark):
    """G2 property on the REAL operator: |edges| == |unique consecutive
    pairs| and <= sum(len(path)-1) — per-row pairing can never exceed total
    path length (the round-1 level cross-join grew quadratically)."""
    import itertools

    from textchunking_and_knowledgegraph_spark.operators.linking import (
        hierarchy_triples,
    )

    # deterministic family of path sets incl. shared prefixes and overlaps
    alphabet = "abcdefg"
    path_sets = [
        [list(p) for p in itertools.permutations(alphabet[:4], 3)][:6],
        [["r", "x"], ["r", "y"], ["r", "x", "x1"], ["r", "y", "y1", "y2"]],
        [["solo"]],
        [["a", "b"], ["a", "b"], ["b", "a"]],  # duplicates + reversed
    ]
    for paths in path_sets:
        rows = [
            {"entity": p[-1], "entity_id": i, "domain": "d", "level": len(p),
             "path": list(p)}
            for i, p in enumerate(paths)
        ]
        got = {(r.subj, r.obj)
               for r in hierarchy_triples(spark.createDataFrame(rows)).collect()}
        want = {(a, b) for p in paths for a, b in zip(p, p[1:])}
        assert got == want
        assert len(got) <= sum(len(p) - 1 for p in paths)


# round-4 codecs: encode->decode identity over arbitrary pixel/sample data

from hypothesis import given as _given_codec
from hypothesis import settings as _settings_codec
from hypothesis import strategies as _st_codec
from hypothesis.extra import numpy as _hnp


@_settings_codec(deadline=None, max_examples=40)
@_given_codec(
    _hnp.arrays(
        dtype="uint8",
        shape=_st_codec.tuples(
            _st_codec.integers(1, 9), _st_codec.integers(1, 9), _st_codec.just(3)
        ),
    )
)
def test_bmp_roundtrip_property(img):
    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    assert (decode_bmp(encode_bmp(img)) == img).all()


@_settings_codec(deadline=None, max_examples=40)
@_given_codec(
    _hnp.arrays(
        dtype="uint8",
        shape=_st_codec.tuples(_st_codec.integers(1, 9), _st_codec.integers(1, 9)),
    )
)
def test_pgm_roundtrip_property(gray):
    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    assert (decode_ppm(encode_ppm(gray)) == gray).all()


@_settings_codec(deadline=None, max_examples=40)
@_given_codec(
    _hnp.arrays(
        dtype="int16",
        shape=_st_codec.tuples(_st_codec.integers(1, 200), _st_codec.integers(1, 3)),
    ),
    _st_codec.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    out, r = decode_wav(encode_wav(samples, rate))
    assert r == rate and out.shape == samples.shape and (out == samples).all()


# round-5 codecs/spans: PNG identity over every scanline filter and color
# layout; pack_spans slice-equivalence with the pack_chunks oracle (the
# kg_chunks oracle's foundation); dyadic SRP sign exactness (the ann_srp_topk
# oracle's foundation)

@_settings_codec(deadline=None, max_examples=40)
@_given_codec(
    _hnp.arrays(
        dtype="uint8",
        shape=_st_codec.tuples(
            _st_codec.integers(1, 9),
            _st_codec.integers(1, 9),
            _st_codec.sampled_from([1, 3, 4]),
        ),
    ),
    _st_codec.integers(0, 4),
)
def test_png_roundtrip_property(img, filter_type):
    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    if img.shape[2] == 1:
        img = img[:, :, 0]  # grayscale layout
    out = decode_png(encode_png(img, filter_type=filter_type))
    assert out.shape == img.shape and (out == img).all()


def test_png_rejects_unsupported_variants():
    import struct as _s

    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    good = encode_png(_np.zeros((2, 2, 3), _np.uint8))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"junkjunkjunk")
    # flip the IHDR color type to palette (3): must reject, not misread
    ihdr_at = 8 + 8
    body = bytearray(good)
    body[ihdr_at + 9] = 3
    with pytest.raises(ValueError):
        decode_png(bytes(body))
    with pytest.raises(ValueError):
        decode_png(good[:30])  # truncated


def _png_with_ihdr(w, h, interlace, idat):
    import struct as _s

    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
    )

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, interlace)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b""))


def test_png_oversized_header_fails_before_allocating():
    """A 68-byte interlaced gray PNG whose IHDR claims 60000x60000: the
    decoder must refuse it from the header, not try to allocate the
    3.35 GiB sample array."""
    import tracemalloc
    import zlib as _z

    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_png,
    )

    png = _png_with_ihdr(60000, 60000, 1, _z.compress(b"\0\0\0"))
    assert len(png) == 68
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="pixel"):
            decode_png(png)
        assert tracemalloc.get_traced_memory()[1] < 1 << 20
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize("interlace", [0, 1])
def test_png_zlib_bomb_is_not_inflated(interlace):
    """16x16 gray declares 272 (sequential) or 286 (Adam7) filtered bytes;
    an IDAT that inflates to 64 MiB must fail after inflating one byte past
    that, with no 64 MiB buffer ever allocated."""
    import tracemalloc
    import zlib as _z

    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        decode_png,
    )

    png = _png_with_ihdr(16, 16, interlace, _z.compress(b"\0" * (64 << 20), 9))
    assert len(png) < 128 << 10
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="inflates past"):
            decode_png(png)
        assert tracemalloc.get_traced_memory()[1] < 1 << 20
    finally:
        tracemalloc.stop()


from textchunking_and_knowledgegraph_spark.operators.chunker import (  # noqa: E402
    HARD_MAX,
    MIN_LEN,
    TARGET_MAX,
)


def pack_chunks(
    sentences: list[str],
    min_len: int = MIN_LEN,
    target_max: int = TARGET_MAX,
    hard_max: int = HARD_MAX,
    overlap: int = 0,
    joiner: str = " ",
) -> list[str]:
    """Oracle for ``pack_spans``: the engine's former string-building
    packer, kept verbatim.

    Greedy sentence packing under the frozen LumberChunker length policy.

    Guarantees: every emitted chunk <= hard_max; every non-final chunk
    >= min_len; target band [min_len, target_max] hit whenever sentence
    granularity allows. SMALL buffers absorb following sentences past
    target_max (up to hard_max) rather than emitting undersized chunks --
    the reference's question-queue absorb semantics.
    """
    chunks: list[str] = []
    buf = ""
    for s in sentences:
        if not s:
            continue
        sep = joiner if buf else ""
        if len(buf) + len(sep) + len(s) <= target_max:
            buf = buf + sep + s
        elif len(buf) >= min_len:
            chunks.append(buf)
            tail = buf[-overlap:] if overlap > 0 else ""
            buf = (tail + joiner + s) if tail else s
        else:
            buf = buf + sep + s  # SMALL absorb, may exceed target_max
        while len(buf) > hard_max:  # LARGE: hard split at the target ceiling
            chunks.append(buf[:target_max])
            keep_from = target_max - overlap if overlap > 0 else target_max
            buf = buf[keep_from:]
    if buf.strip():
        chunks.append(buf)
    return chunks


@_settings_codec(deadline=None, max_examples=80)
@_given_codec(
    _st_codec.lists(
        _st_codec.text(
            alphabet=_st_codec.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            min_size=0,
            max_size=300,
        ),
        min_size=0,
        max_size=30,
    ),
    # every legal overlap, with 0 (the contract's setting) drawn often
    _st_codec.one_of(_st_codec.just(0), _st_codec.integers(0, MIN_LEN - 1)),
)
def test_pack_spans_matches_pack_chunks(sentences, overlap):
    """pack_spans' stream slices must equal the pack_chunks oracle's output
    byte-for-byte for ANY sentence list and any overlap in [0, MIN_LEN).
    At overlap=0 -- the kg_chunks oracle's foundation -- the spans must
    also satisfy the coverage contract the oracle checks in SQL (start at
    0, gaps in {0,1} with the gap char == joiner, end == stream end unless
    the final buffer was whitespace-only)."""
    from textchunking_and_knowledgegraph_spark.operators.chunker import pack_spans

    want = pack_chunks(sentences, overlap=overlap)
    stream, spans = pack_spans(sentences, overlap=overlap)
    got = [stream[a:a + n] for a, n in spans]
    assert got == want
    if overlap:
        return
    prev_end = None
    for a, n in spans:
        assert n >= 1
        if prev_end is None:
            assert a == 0
        else:
            gap = a - prev_end
            assert gap in (0, 1)
            if gap == 1:
                assert stream[prev_end] == " "
        prev_end = a + n
    if spans and not stream[prev_end:].strip():
        pass  # trailing whitespace-only remainder is legitimately dropped
    elif spans:
        assert prev_end == len(stream)


def test_srp_dyadic_signs_exact_in_any_order():
    """The ann_srp_topk oracle's exactness argument, checked directly:
    quantized hyperplanes x the 0.25-grid fixture give plane dots that are
    exact dyadics, so EVERY summation order produces the identical float64
    -- no near-zero sign flip is possible."""
    import itertools

    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.dedup import _hyperplanes

    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import _ivf_fixture

    corpus, queries = _ivf_fixture()
    vecs = [v for _, v in corpus + queries]
    for t in range(2):
        planes = _hyperplanes(4, 8, seed=7 + t, quantize=True)
        assert (planes == _np.round(planes * 1024) / 1024).all()
        for v in vecs:
            for p in planes:
                terms = [float(x) * float(y) for x, y in zip(v, p)]
                # reduction order cannot matter (an exactly-zero sum is
                # also fine: both engines compare the same exact value > 0)
                sums = {sum(perm) for perm in itertools.permutations(terms)}
                assert len(sums) == 1


# round-5 JPEG codec (operators/jpeg.py): lossy format, so the testing
# story is layered -- exact identity where the math guarantees it
# (constant-fill grayscale at quant=1: all ACs analytically zero, DC path
# integer-exact), bounded error for arbitrary content, loud rejection of
# unsupported variants, and (in test_textfns) agreement with an
# independent reference decoder on real camera files.

def test_jpeg_constant_grayscale_exact_all_fills():
    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    for v in range(256):
        g = _np.full((6, 11), v, _np.uint8)
        out = decode_jpeg(encode_jpeg(g, quant=1))
        assert out.shape == g.shape and (out == g).all(), v


@_settings_codec(deadline=None, max_examples=25)
@_given_codec(
    _hnp.arrays(
        dtype="uint8",
        shape=_st_codec.tuples(
            _st_codec.integers(1, 20),
            _st_codec.integers(1, 20),
            _st_codec.sampled_from([1, 3]),
        ),
    )
)
def test_jpeg_roundtrip_bounded_error(img):
    """quant=1 bounds per-coefficient rounding error at 0.5, so the spatial
    reconstruction error is small and bounded -- gray within 3, color within
    6 (YCbCr forward/inverse adds float rounding)."""
    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    tol = 3 if img.shape[2] == 1 else 6
    if img.shape[2] == 1:
        img = img[:, :, 0]
    out = decode_jpeg(encode_jpeg(img, quant=1))
    assert out.shape == img.shape
    assert int(_np.abs(out.astype(int) - img.astype(int)).max()) <= tol


def test_jpeg_rejects_unsupported_variants():
    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    good = encode_jpeg(_np.zeros((4, 4), _np.uint8))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8junk that is not a marker stream")
    # flip SOF0 -> SOF2 (progressive): must reject, not misread
    body = bytearray(good)
    at = body.find(b"\xff\xc0")
    assert at > 0
    body[at + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(body))
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated scan


def test_jpeg_restart_marker_roundtrip():
    """DRI/RSTn coverage: encoding with a restart interval emits real RSTn
    markers (byte-aligned, DC predictors reset) and the decoder's restart
    path reconstructs the image identically to the marker-free encoding."""
    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = _np.random.RandomState(3)
    px = rng.randint(0, 256, (24, 24), _np.uint8)
    enc = encode_jpeg(px, quant=1, restart_interval=2)
    n_rst = sum(
        1 for i in range(len(enc) - 1)
        if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7
    )
    assert n_rst == 4  # 9 MCUs, a marker every 2
    assert (decode_jpeg(enc) == decode_jpeg(encode_jpeg(px, quant=1))).all()
    g = _np.full((20, 20), 99, _np.uint8)
    assert (decode_jpeg(encode_jpeg(g, restart_interval=2)) == g).all()


def test_kg_chunks_oracle_ws_set_matches_python_strip():
    """r5 review fix: the oracle's 'skipped regions are whitespace-only'
    trim set must be the EXACT Python str.strip() set (U+3000, NBSP, ...),
    not the 6-char ASCII set -- and the cov_ok SQL must accept a gap left
    by an F7-dropped whitespace-only hard-split slice."""
    import duckdb

    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import _SQL_PY_WS

    from textchunking_and_knowledgegraph_spark.operators.chunker import pack_spans

    chars = _SQL_PY_WS[1:-1].replace("''", "'")
    assert set(chars) == {c for c in map(chr, range(0x3001)) if c.isspace()}

    # a sentence whose hard split produces a whitespace-only middle slice
    # made of IDEOGRAPHIC SPACE -- outside the ASCII trim set
    sent = "x" * 650 + "　" * 1000 + "y" * 650
    stream, spans = pack_spans([sent])
    kept = [(a, n) for a, n in spans if stream[a:a + n].strip()]
    assert len(kept) < len(spans)  # at least one slice was all-whitespace

    # replay the oracle's gap predicate over the KEPT spans
    con = duckdb.connect()
    rows = ", ".join(f"({a}, {n}, {i})" for i, (a, n) in enumerate(kept))
    ok = con.execute(f"""
        WITH s(a, n, ord) AS (VALUES {rows}),
        w AS (SELECT *, lead(a) OVER (ORDER BY ord) AS nxt,
                     row_number() OVER (ORDER BY ord) AS rn,
                     count(*) OVER () AS total
              FROM s)
        SELECT bool_and(
          CASE WHEN rn = 1
               THEN trim(substring(?, 1, CAST(a AS INT)), {_SQL_PY_WS}) = ''
               ELSE TRUE END
          AND CASE WHEN rn = total
                THEN trim(substring(?, CAST(a + n + 1 AS INT)), {_SQL_PY_WS}) = ''
                ELSE nxt >= a + n
                     AND trim(substring(?, CAST(a + n + 1 AS INT),
                                        CAST(nxt - (a + n) AS INT)),
                              {_SQL_PY_WS}) = ''
              END)
        FROM w
    """, [stream, stream, stream]).fetchone()[0]
    assert ok is True


def test_png_palette_and_subbyte_gray_decode():
    """Hand-built palette (PLTE + tRNS) and 2-bit grayscale PNGs decode to
    the expected pixels -- the sub-byte bit-unpacking and palette-lookup
    paths pinned without a reference file."""
    import struct as _s
    import zlib as _z

    import numpy as _np

    from textchunking_and_knowledgegraph_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    # 4x2 palette image, depth 8, 3 palette entries, tRNS on entry 0
    idx = _np.array([[0, 1, 2, 1], [2, 2, 0, 0]], _np.uint8)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    scan = b"".join(b"\x00" + r.tobytes() for r in idx)
    png = (_PNG_SIG
           + _png_chunk(b"IHDR", _s.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0))
           + _png_chunk(b"PLTE", plte)
           + _png_chunk(b"tRNS", bytes([128]))
           + _png_chunk(b"IDAT", _z.compress(scan))
           + _png_chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == (2, 4, 4)
    assert tuple(out[0, 0]) == (255, 0, 0, 128)   # entry 0 + tRNS alpha
    assert tuple(out[0, 2]) == (0, 0, 255, 255)   # entry 2, opaque default

    # 5x1 grayscale, depth 2 (packed 4 samples/byte, MSB first): values
    # 0,1,2,3,0 -> bytes 0b00011011, 0b00xxxxxx
    packed = bytes([0b00011011, 0b00000000])
    png2 = (_PNG_SIG
            + _png_chunk(b"IHDR", _s.pack(">IIBBBBB", 5, 1, 2, 0, 0, 0, 0))
            + _png_chunk(b"IDAT", _z.compress(b"\x00" + packed))
            + _png_chunk(b"IEND", b""))
    out2 = decode_png(png2)
    assert out2.shape == (1, 5)
    assert list(out2[0]) == [0, 85, 170, 255, 0]  # scaled by 255/(2^2-1)
