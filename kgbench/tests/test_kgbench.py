"""The benchmark's own tests (not part of the engine's tier-1 suite).

    python3 -m pytest kgbench/tests -q

A tiny-scale run of every workload must print every metric BENCHMARK.json
names, with its unit; a traced run must attribute counts to every layer its
workload enters; a corrupted output must fail the check.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import gen  # noqa: E402
from kgbench.run import Harness  # noqa: E402
from kgbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# per workload, the layers whose self times make up its traced pass
SELF_TIMES = {
    "kg_build": ["sources.io.scan_s", "functions.normalize.self_s",
                 "operators.extract.doc_facts_self_s", "operators.extract.triples_self_s",
                 "plans.materialize.self_s"],
    "curate_dedup": ["operators.dedup.signatures_s", "operators.dedup.candidates_s",
                     "operators.dedup.verify_s", "operators.canonicalize.cc_s",
                     "plans.incremental_dedup.publish_s"],
}


# per workload, the per-layer counts that must be positive: each one reads 0
# if its event-log attribution (job description, SQL node or metric name)
# stops matching
POSITIVE_COUNTS = {
    "kg_build": ["operators.extract.py_bytes_sent", "operators.extract.py_bytes_returned",
                 "operators.extract.py_run_s", "operators.extract.rows_out",
                 "plans.materialize.jobs", "plans.materialize.files_written",
                 "plans.materialize.bytes_written", "plans.materialize.shuffle_write_bytes",
                 "plans.materialize.edges", "plans.materialize.vertices",
                 "plans.add_content.jobs", "plans.add_content.affected_buckets",
                 "plans.add_content.rows_rewritten", "spark.executor_cpu_s"],
    "curate_dedup": ["operators.dedup.py_bytes_sent", "operators.dedup.candidate_pairs",
                     "operators.dedup.verified_pairs", "operators.canonicalize.jobs",
                     "spark.executor_cpu_s"],
}
# a self time is a difference of two timed prefixes; at the tiny test size
# each prefix is well under a second, so allow that much timing noise
SELF_TIME_NOISE_S = 0.25


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for m in out["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace:
        v = {k: m["value"] for k, m in out["metrics"].items()}
        assert sum(v[k] for k in SELF_TIMES[workload]) == pytest.approx(v["trace.pass_s"])
        assert {k: v[k] for k in SELF_TIMES[workload] if v[k] < -SELF_TIME_NOISE_S} == {}
        assert {k: v[k] for k in POSITIVE_COUNTS[workload] if not v[k] > 0} == {}
    assert not glob.glob(os.path.join(ROOT, ".kgbench_work", f"{workload}-5-*"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench")
    proc = _run("kg_build", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_dedup_labels_are_exact_jaccard():
    """The gold drops equal a brute-force labelling: connected components of
    every pair whose word-3-shingle Jaccard reaches the threshold."""
    rows, gold, stats = gen.dedup_corpus(200, seed=3)
    assert stats["exact_copies"] == 20
    ids = [r["id"] for r in rows]
    sh = [gen.shingles(r["text"]) for r in rows]
    comp = {i: {i} for i in ids}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= gen.THRESHOLD:
                merged = comp[ids[a]] | comp[ids[b]]
                for i in merged:
                    comp[i] = merged
    brute = {(min(c), m) for c in comp.values() for m in c if m != min(c)}
    assert brute == gold and gold


def _corrupt(out: str, table: str) -> None:
    """Drop every other row of every data file of ``table`` (and its stale
    checksum sidecar, so the reader sees the new content)."""
    files = glob.glob(os.path.join(out, table, "**", "*.parquet"), recursive=True)
    assert files
    for f in files:
        t = pq.read_table(f)
        pq.write_table(t.take(list(range(0, t.num_rows, 2))), f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


@pytest.mark.parametrize("workload,table", [
    ("kg_build", "edges"), ("kg_build", "vertices"), ("curate_dedup", "dedup_decisions")])
def test_corrupted_output_fails_the_check(workload, table):
    h = Harness(workload, seed=7, seconds=1, trace=False, scale=0.02)
    try:
        wls = [h.new_input(k, h.full_docs) for k in ("a", "b")]
        for wl in wls:
            wl.generate()
        h.start()
        for wl, corrupt in zip(wls, (True, False)):
            out = wl.new_output()
            result = wl.run_pass(h.spark, out)
            if corrupt:
                _corrupt(out, table)
                with pytest.raises(CheckFailed):
                    wl.check(h.spark, out, result)
            else:
                wl.check(h.spark, out, result)
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)
