"""Benchmark entry point.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a local[nproc] Spark session, runs one cold pass on a smaller
input, then timed passes on fresh full-size inputs until ``--seconds`` have
elapsed, checking every pass's output.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
-- the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 if any pass failed or produced a wrong output.
Everything it writes stays under ``.kgbench_work/`` next to ``kgbench/``
and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "textchunking_and_knowledgegraph_spark"


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _flush(path: str) -> None:
    """fsync every file under ``path``, so that no writeback of data written
    earlier (inputs, shuffle files) lands inside a timed pass."""
    for d, _, files in os.walk(path):
        for name in files:
            try:
                fd = os.open(os.path.join(d, name), os.O_RDONLY)
            except OSError:  # removed meanwhile
                continue
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def _generate_all(wls: list) -> None:
    """Child process: generate each input in order and publish its state
    (paths, labels, sizes) as ``<work>.pickle``."""
    for wl in wls:
        wl.generate()
        tmp = wl.work + ".pickle.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(wl.__dict__, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, wl.work + ".pickle")


class Inputs:
    """The inputs of the planned passes, generated in one forked child
    process. Generation is pure Python; in a thread it would hold the GIL
    against the driver's Py4J calls, in a process it overlaps the JVM start
    and the cold pass."""

    def __init__(self, wls: list):
        self.wls = {wl.key: wl for wl in wls}
        self.proc = multiprocessing.get_context("fork").Process(
            target=_generate_all, args=(wls,))
        self.proc.start()

    def get(self, key: str):
        wl = self.wls[key]
        path = wl.work + ".pickle"
        while not os.path.exists(path):
            if self.proc.exitcode is not None and not os.path.exists(path):
                raise RuntimeError(f"generating input {key} failed")
            time.sleep(0.05)
        with open(path, "rb") as f:
            wl.__dict__.update(pickle.load(f))
        return wl

    def close(self) -> None:
        if self.proc.is_alive():
            self.proc.terminate()
        self.proc.join()


class Harness:
    """One benchmark run: session lifetime, pass loop, measurements.

    Every pass reads an input of its own, generated from the seed and the
    pass's key: the engine's Python workers outlive a pass and memoize
    per-token hashes, so a pass over documents an earlier pass has seen
    would time cache hits, not per-document work."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scale: float):
        from kgbench.procstat import ProcTree
        from kgbench.workloads import WORKLOADS

        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".kgbench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.cls = WORKLOADS[workload]
        self.full_docs = max(40, int(self.cls.docs * scale))
        self.warm_docs = max(40, int(self.cls.warm_docs * scale))
        self.tree = ProcTree()
        self.spark = None
        self.inputs = None
        self.timed_inputs = []
        self.attempted = self.failed = 0

    def new_input(self, key: str, n_docs: int):
        wl = self.cls(os.path.join(self.work, key),
                      zlib.crc32(f"{self.seed}:{key}".encode()), n_docs)
        wl.key = key
        return wl

    def input(self, key: str):
        """The input named ``key``: a planned one from the generator
        process, or a further timed one generated here."""
        if key in self.inputs.wls:
            return self.inputs.get(key)
        wl = self.new_input(key, self.full_docs)
        wl.generate()
        return wl

    # -- session ------------------------------------------------------------
    def start(self, extra: dict[str, str] | None = None) -> None:
        from textchunking_and_knowledgegraph_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        # workers import the engine from this checkout; every temporary file
        # (shuffle, spills, JVM and Python temp files) stays in the work dir
        if not os.environ.get("PYTHONPATH", "").startswith(ROOT + os.pathsep):
            os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # no hsperfdata files in /tmp, from the launcher or the Spark JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
            os.environ.pop(k, None)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # 3 GB instead of the 8 GB default (NOTES.md, "Memory")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            **(extra or {}),
        }
        self.spark = build_session(app_name="kgbench", master=f"local[{self.cpus}]",
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every child to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.inputs is not None:
            self.inputs.close()
        deadline = time.time() + 30
        while self.tree.children_alive() and time.time() < deadline:
            time.sleep(0.1)

    # -- passes -------------------------------------------------------------
    def one_pass(self, wl, traced_tag: str | None = None):
        """Run, time and check one pass of ``wl``. Returns (seconds, cpu
        seconds, result, tracer) or None if the pass failed."""
        from kgbench.workloads import Tracer

        out = wl.new_output()
        self.attempted += 1
        try:
            tracer = Tracer(self.spark, traced_tag) if traced_tag else None
            _flush(self.work)
            cpu0 = self.tree.cpu_seconds()
            t0 = time.perf_counter()
            if tracer is None:
                result = wl.run_pass(self.spark, out)
            else:
                result = wl.traced_pass(self.spark, out, tracer)
            dt = time.perf_counter() - t0
            cpu = self.tree.cpu_seconds() - cpu0
            self.tree.sample_memory()
            tc = time.perf_counter()
            wl.check(self.spark, out, result)
            print(f"kgbench: pass {self.attempted} ({wl.n_docs} docs) {dt:.3f}s "
                  f"cpu {cpu:.2f}s check {time.perf_counter() - tc:.2f}s",
                  file=sys.stderr)
            return dt, cpu, result, tracer
        except Exception:  # a failed pass is counted, and the run goes on
            self.failed += 1
            traceback.print_exc(limit=3)
            return None
        finally:
            # deleted before writeback: pass output never has to reach disk
            shutil.rmtree(out, ignore_errors=True)

    def passes(self, seconds: float, traced: bool = False) -> list:
        """Passes on fresh full-size inputs until ``seconds`` have elapsed
        (at least one)."""
        done, t_end = [], time.perf_counter() + seconds
        kind = "traced" if traced else "timed"
        while not done or time.perf_counter() < t_end:
            wl = self.input(f"{kind}{self.attempted + 1}")
            r = self.one_pass(wl, f"p{self.attempted}" if traced else None)
            if r is None and self.failed >= 3:
                break
            if r is not None:
                done.append(r)
                self.timed_inputs += [] if traced else [wl]
        return done

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        from kgbench import eventlog

        # pass 1 runs cold (JVM start-up, JIT, codegen, Python workers) on a
        # smaller input; pass 2, the first timed one, is the first on a
        # full-size input (NOTES.md, "What one run does")
        planned = [self.new_input("cold1", self.warm_docs)]
        if self.trace:
            # the traced pass must not carry what only the first full-size
            # pass pays (heap and worker memory growth): one more pass first
            planned += [self.new_input("warm2", self.full_docs)]
        planned += [self.new_input(f"timed{len(planned) + 1}", self.full_docs)]
        if self.trace:
            planned += [self.new_input(f"traced{len(planned) + 1}", self.full_docs)]
        self.inputs = Inputs(planned)
        log_dir = os.path.join(self.work, "eventlog")
        if self.trace:
            os.makedirs(log_dir)
        self.start(eventlog.eventlog_conf(log_dir) if self.trace else None)
        print(f"kgbench: session up at {_process_age():.2f}s", file=sys.stderr)
        self.one_pass(self.input("cold1"))
        if self.trace:
            self.one_pass(self.input("warm2"))
        _flush(self.work)
        setup_s = _process_age()
        timed = self.passes(self.seconds)
        metrics = {}
        if timed and not self.trace:
            metrics = self.end_to_end(setup_s, timed)
        elif timed:
            metrics = self.per_layer(timed, log_dir)
        return {"correct": self.failed == 0 and bool(metrics),
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def end_to_end(self, setup_s: float, timed: list) -> dict:
        scored = self.timed_inputs
        return {
            "setup_s": _metric(setup_s, "s"),
            "build_s": _metric(statistics.median(t for t, *_ in timed), "s"),
            "cpu_s": _metric(statistics.median(c for _, c, *_ in timed), "s"),
            "py_peak_rss_mb": _metric(self.tree.peak_py_workers_kb / 1024, "MB"),
            "precision": _metric(statistics.median(w.precision for w in scored), "ratio"),
            "recall": _metric(statistics.median(w.recall for w in scored), "ratio"),
        }

    def per_layer(self, untraced: list, log_dir: str) -> dict:
        """Run traced passes for --seconds and report the median one.
        ``trace.overhead_ratio`` compares its pass time with the untraced
        passes that ran just before, in the same session."""
        from kgbench import eventlog, layers

        untraced_s = statistics.median(t for t, *_ in untraced)
        traced = self.passes(self.seconds, traced=True)
        self.stop()  # finishes the event log
        if not traced:
            return {}
        spans = eventlog.parse(log_dir)
        traced.sort(key=lambda r: r[0])
        _, _, result, tracer = traced[(len(traced) - 1) // 2]
        return layers.per_layer_metrics(
            self.cls.name, tracer, result, spans,
            jvm_peak_kb=self.tree.peak_jvm_kb, untraced_s=untraced_s)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny scale)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"kgbench: the engine package {ENGINE}/ is not next to kgbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from kgbench.workloads import WORKLOADS, describe

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        out = h.run()
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)
    if h.timed_inputs:
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          **describe(h.timed_inputs[0])}))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
