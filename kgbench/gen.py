"""Seeded input generators for the benchmark workloads.

The engine only ever sees the parquet files written here; the labels that
score its output (golden triples, near-duplicate pairs) are known by
construction and stay on the benchmark side.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from textchunking_and_knowledgegraph_spark.sources.io import SOURCE_SCHEMA
from textchunking_and_knowledgegraph_spark.sources.synthetic import synthesize_corpus

Triple = tuple[str, str, str]

# Document mix of the kg_build corpus and its add batch. By bytes the corpus
# is mostly CJK markdown chapters; by count mostly code and prose.
KG_MIX = {"n_markdown": 3, "n_code": 10, "n_prose": 4}
_SMALL_REPOS = [f"org/repo{i}" for i in range(8)]


def _mix(n_docs: int) -> dict[str, int]:
    total = sum(KG_MIX.values())
    return {k: max(1, n_docs * v // total) for k, v in KG_MIX.items()}


def kg_corpus(n_docs: int, seed: int) -> tuple[list[dict], set[Triple]]:
    """~n_docs source rows (half in the mega repo) and their golden triples."""
    rows, goldens = synthesize_corpus(seed=seed, mega_repo_share=0.5, **_mix(n_docs))
    return rows, set(goldens)


RESEND_SHARE = 0.1


def kg_add_batch(
    base_rows: list[dict], n_docs: int, seed: int
) -> tuple[list[dict], set[Triple], list[str]]:
    """A batch for ``add_content``: ~n_docs new documents in one or two small
    repos, plus RESEND_SHARE of that many re-sent verbatim from the base rows
    of those repos (already in the graph, so they must add nothing).

    ``synthesize_corpus`` keys paths and commits by index only, so the new
    documents are re-keyed under ``add<seed>/`` with unique commits, and the
    golden triples whose subject is a path are re-keyed with them."""
    rng = random.Random(seed * 7919 + 1)
    targets = sorted(rng.sample(_SMALL_REPOS, rng.choice([1, 2])))
    rows, goldens = synthesize_corpus(seed=seed + 1_000_003, mega_repo_share=0.0,
                                      **_mix(n_docs))
    renamed: dict[str, str] = {}
    new_rows = []
    for i, r in enumerate(rows):
        path = f"add{seed}/{r['path']}"
        renamed[r["path"]] = path
        commit = hashlib.sha1(f"add:{seed}:{i}".encode()).hexdigest()
        new_rows.append({**r, "repo": targets[i % len(targets)], "path": path,
                         "commit": commit})
    new_goldens = {(renamed.get(s, s), p, o) for s, p, o in goldens}
    in_targets = [r for r in base_rows if r["repo"] in targets]
    k = min(len(in_targets), int(RESEND_SHARE * len(new_rows)))
    return new_rows + rng.sample(in_targets, k), new_goldens, targets


# ---------------------------------------------------------------------------
# curate_dedup: high-entropy documents with planted duplicate families
# ---------------------------------------------------------------------------

THRESHOLD = 0.7  # write_dedup_store(threshold=...) and the labelling cut


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(4, 9))) for _ in range(n)]


def shingles(text: str, k: int = 3) -> set[str]:
    """Word k-shingles as the engine's verify defines them (ASCII-lowercased,
    ASCII-whitespace split); generated text is lowercase ASCII already."""
    w = text.split()
    if len(w) < k:
        return {" ".join(w)} if w else set()
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = shingles(a), shingles(b)
    u = len(x | y)
    return len(x & y) / u if u else 0.0


def _mutate(rng: random.Random, words: list[str], vocab: list[str], rate: float) -> list[str]:
    out = []
    for w in words:
        r = rng.random()
        if r < rate / 3:
            continue  # delete
        if r < 2 * rate / 3:
            out.append(rng.choice(vocab))  # substitute
            continue
        out.append(w)
        if r < rate:
            out.append(rng.choice(vocab))  # insert
    return out


DOC_WORDS = (150, 450)  # long enough to show the signature memory footprint


def dedup_corpus(n_docs: int, seed: int) -> tuple[list[dict], set[tuple[int, int]], dict]:
    """(rows [id, text], gold drop pairs {(keeper, member)}, family stats).

    Families hang off base documents: ~10% of docs are exact copies (enough
    to take the engine's >5% exact pre-collapse branch), ~10% near copies
    and ~5% hard negatives. Near copies and hard negatives are mutations of
    their base; a pair is labelled duplicate by its exact word-3-shingle
    Jaccard against the threshold, never by the mutation rate. The gold
    drop pairs are (component min id, member) over the connected
    components of the labelled pair graph -- the keep/drop decision
    ``write_dedup_store`` must reproduce."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 60_000)
    n_exact, n_near, n_neg = n_docs // 10, n_docs // 10, n_docs // 20
    n_base = n_docs - n_exact - n_near - n_neg
    texts = [
        [rng.choice(vocab) for _ in range(rng.randint(*DOC_WORDS))]
        for _ in range(n_base)
    ]
    family = list(range(n_base))  # family id = index of its base doc
    for _ in range(n_exact):
        b = rng.randrange(n_base)
        texts.append(list(texts[b]))
        family.append(b)
    for _ in range(n_near):
        b = rng.randrange(n_base)
        texts.append(_mutate(rng, texts[b], vocab, rng.uniform(0.01, 0.08)))
        family.append(b)
    for _ in range(n_neg):
        b = rng.randrange(n_base)
        texts.append(_mutate(rng, texts[b], vocab, rng.uniform(0.09, 0.20)))
        family.append(b)
    # ids are a seeded permutation, so keepers are not always the base doc
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [{"id": ids[i], "text": " ".join(t)} for i, t in enumerate(texts)]

    members: dict[int, list[int]] = {}
    for i, f in enumerate(family):
        members.setdefault(f, []).append(i)
    parent = list(range(len(texts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    dup_pairs = 0
    for ms in members.values():
        for a_i, a in enumerate(ms):
            for b in ms[a_i + 1:]:
                if jaccard(rows[a]["text"], rows[b]["text"]) >= THRESHOLD:
                    dup_pairs += 1
                    parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for i in range(len(texts)):
        comps.setdefault(find(i), []).append(ids[i])
    gold = set()
    for ids_in in comps.values():
        keeper = min(ids_in)
        gold.update((keeper, m) for m in ids_in if m != keeper)
    stats = {"exact_copies": n_exact, "near_copies": n_near,
             "hard_negatives": n_neg, "dup_pairs": dup_pairs}
    return rows, gold, stats


# ---------------------------------------------------------------------------
# parquet
# ---------------------------------------------------------------------------

_DEDUP_SCHEMA = pa.schema([("id", pa.int64()), ("text", pa.string())])


def _arrow_schema(spark_schema) -> pa.Schema:
    return pa.schema([(f.name, pa.string(), f.nullable) for f in spark_schema.fields])


def write_parquet(rows: list[dict], out_dir: str, n_files: int, kind: str) -> int:
    """Write rows as ``n_files`` parquet files (seeded order is kept).
    Returns the bytes of text content written."""
    schema = _arrow_schema(SOURCE_SCHEMA) if kind == "source" else _DEDUP_SCHEMA
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    n = len(rows)
    for i in range(n_files):
        a, b = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(a, b - a), os.path.join(out_dir, f"part-{i:03d}.parquet"))
    col = "content" if kind == "source" else "text"
    return sum(len((r[col] or "").encode()) for r in rows)
