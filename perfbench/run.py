#!/usr/bin/env python3
"""Extraction benchmark: seeded workloads through ``plans.pipeline.run_extraction``.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload html_resume --seed 1 --seconds 6 --trace 1
    python3 perfbench/run.py --sha-gate

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see ``perfbench/README.md``); the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  Per-pass host
evidence goes to stderr and, with the spans of a traced run, to
``perfbench/out/``.  Every written url is checked against the oracle
outside the timed window; any mismatch makes the run fail (exit 1).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from procs import adopt_orphans, reap_children

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CACHE = os.path.join(HERE, ".cache")
# Untimed passes before measuring: a session's first pass pays one-time
# costs and runs about twice as long as the next.
WARMUP_PASSES = 2
# Timed passes at least: the JVM keeps getting faster for several passes
# more, so a run that stopped on time alone would measure later, warmer
# passes when the host is fast and earlier ones when it is slow.
MIN_TIMED_PASSES = 3
# bench_kernel.py's seed-42 20k-document byte-identity gate
SHA_GATE_DOCS = 20000
SHA_GATE = "4324151ec1abf91e247aa7c00ffa30ed14564080abce132339e52c485a896dce"


def _isolate_env() -> None:
    """Make Spark's Python workers import this checkout's package and keep
    the JVM's and the workers' temporary files inside ``perfbench/out``."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # JVM options of spark-submit's launcher JVM and of the Spark JVM
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(
            p
            for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
            if p
        )


def _slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(pages_path: str):
    """Cold session start; returns ``(spark, setup_s, start_s)``: seconds
    from calling ``get_spark`` to the first extracted row, and to the
    session alone."""
    from markmuse_spark.operators.extract import extract_markdown
    from markmuse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{_slots()}]",
        app_name="perfbench",
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    t1 = time.perf_counter()
    try:
        extract_markdown(spark.read.parquet(pages_path)).first()
    except BaseException:
        stop_session(spark)
        raise
    return spark, time.perf_counter() - t0, t1 - t0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait for every process they started
    (the Python daemon and workers outlive the JVM by a moment)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    killed = reap_children()
    if killed:
        raise RuntimeError(f"processes still running 30 s after Spark stopped were killed: {killed}")


class Job:
    """One workload's prepared pipeline state in one Spark session."""

    def __init__(self, spark, workload, inputs, golden, jvm: int) -> None:
        from check import check_pass, committed_urls

        self.spark = spark
        self.jvm = jvm
        self.inputs = inputs
        self.golden = golden
        self.work = os.path.join(OUT, "work", workload.name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.state = os.path.join(self.work, "state")
        os.makedirs(self.state)
        self.prep_checks = []
        all_urls = set(golden)
        if workload.resume:
            # the committed half: an earlier run of the code under test
            from pyspark.sql import functions as F

            from markmuse_spark.plans.pipeline import run_extraction

            half = spark.read.parquet(inputs.pages_path).filter(
                F.pmod(F.xxhash64("url"), F.lit(2)) == 0
            )
            want = {r["url"] for r in half.select("url").collect()}
            run_extraction(spark, half, self.state, "committed")
            self.prep_checks.append(check_pass(self.state, "committed", golden, want))
            done = committed_urls(self.state)
            if done != want or not want or want == all_urls:
                self.prep_checks.append({"mismatches": ["committed half is wrong"], "bad_rows": 0})
            self.expected = all_urls - done
        else:
            self.expected = all_urls

    def run_pass(self, tag: str, tracer=None) -> dict:
        """One checked ``run_extraction`` pass from the committed state;
        returns a record of its wall seconds, the JVM tree's CPU seconds,
        the host evidence of the pass and the check's counts."""
        from check import check_pass
        from host import HostWindow, tree_cpu_s

        from markmuse_spark.plans.pipeline import run_extraction

        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.state, out)
        win = HostWindow(os.getpid())
        cpu0 = tree_cpu_s(self.jvm)
        t0 = time.perf_counter()
        if tracer is None:
            run_extraction(self.spark, self.spark.read.parquet(self.inputs.pages_path), out, tag)
            wall = time.perf_counter() - t0
        else:
            with tracer.span("pipeline.pass") as sp:
                run_extraction(self.spark, self.spark.read.parquet(self.inputs.pages_path), out, tag)
            wall = sp[3] - sp[2]
        res = {"wall_s": wall, "cpu_s": tree_cpu_s(self.jvm) - cpu0, **win.close()}
        res.update(check_pass(out, tag, self.golden, self.expected))
        shutil.rmtree(out)
        return res


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _host_line(rec: dict) -> str:
    def pct(v):
        return "n/a" if v is None else f"{v:.1f}%"

    return (
        f"nproc {rec['nproc']} steal {pct(rec['steal_pct'])} "
        f"foreign {pct(rec['foreign_pct'])} occupancy {pct(rec['occupancy_pct'])}"
    )


def end_to_end(job: Job, seconds: int, setup_s: float) -> tuple[dict, list[dict], int]:
    """Warm-up, then checked passes until ``MIN_TIMED_PASSES`` have run
    and ``seconds`` of pass wall time are measured; returns the end-to-end metrics, the checks and the docs attempted in
    the timed passes."""
    from host import peak_rss_mb, python_workers
    from spans import median

    warm = [job.run_pass(f"warmup{k}") for k in range(WARMUP_PASSES)]
    passes = []
    while len(passes) < MIN_TIMED_PASSES or sum(p["wall_s"] for p in passes) < seconds:
        rec = job.run_pass(f"p{len(passes)}")
        rec["docs_per_s"] = rec["written"] / rec["wall_s"]
        passes.append(rec)
        _log(
            f"pass {len(passes) - 1}: {rec['wall_s']:.3f} s {rec['docs_per_s']:.1f} docs/s "
            f"cpu {1e3 * rec['cpu_s'] / rec['written']:.3f} ms/doc | {_host_line(rec)}"
        )
    last = passes[-1]
    todo = len(job.expected)
    metrics = {
        "setup_s": setup_s,
        "docs_per_s": median([p["docs_per_s"] for p in passes]),
        "cpu_ms_per_doc": median([1e3 * p["cpu_s"] / p["written"] for p in passes]),
        "clean_doc_share": (todo - last["failed"] - last["partial"]) / todo,
        "out_bytes_per_doc": median([p["out_bytes"] / p["written"] for p in passes]),
        "py_worker_rss_mb": peak_rss_mb(python_workers(job.jvm)),
    }
    return metrics, [*warm, *passes], todo * len(passes)


def per_layer(job: Job, seconds: int, slots: int, start_s: float, spans_path: str) -> tuple[dict, list[dict], int]:
    """Warm-up, the ladder and the kernel replay; writes the spans
    once, at the end, and returns the per-layer metrics, the checks and
    the docs attempted in the ladder's passes and the replay."""
    import layers
    from spans import Tracer

    tracer = Tracer()
    warm = [job.run_pass(f"warmup{k}") for k in range(WARMUP_PASSES)]
    ladder = layers.run_ladder(job.spark, job.inputs.pages_path, job.state, job.run_pass, seconds, tracer)
    rep = layers.replay(job.inputs.pages_path, job.expected, job.golden, tracer)
    kernel = layers.kernel_metrics(tracer, rep)
    tracer.write(spans_path)
    last = ladder["checks"][-1]
    todo = len(job.expected)
    metrics = {
        "session.start_s": start_s,
        **layers.layer_metrics(ladder, kernel, slots),
        **{k: v for k, v in kernel.items() if not k.startswith("_")},
        "pipeline.resume.todo_docs": todo,
        "pipeline.out_files": last["out_files"],
        "pipeline.out_bytes": last["out_bytes"],
        "pipeline.sidecar_rows": last["sidecar_rows"],
        "pipeline.failed_doc_share": last["failed"] / todo,
        "pipeline.partial_doc_share": last["partial"] / todo,
    }
    replayed = {"mismatches": [], "bad_rows": rep["mismatches"]}
    if rep["mismatches"]:
        replayed["mismatches"].append(f"kernel replay: {rep['mismatches']} rows differ from the oracle")
    return metrics, [*warm, *ladder["checks"], replayed], todo * (len(ladder["checks"]) + 1)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sha_gate() -> int:
    """Recompute the seed-42 20k-document kernel digest (bench_kernel.py's
    byte-identity gate) from the cached pages table."""
    import pyarrow.parquet as pq

    from inputs import Workload, prepare
    from markmuse_spark.kernel.extract import extract_document

    wl = Workload("sha_gate", SHA_GATE_DOCS, "all", False)
    inp = prepare(wl, 42, ROOT, CACHE, procs=min(4, os.cpu_count() or 1))
    h = hashlib.sha256()
    for r in pq.read_table(inp.pages_path, columns=["url", "html"]).to_pylist():
        row = extract_document(r["url"], r["html"])
        h.update(repr(sorted(row.items())).encode())
    digest = h.hexdigest()
    ok = digest == SHA_GATE
    print(json.dumps({"sha256": digest, "expected": SHA_GATE, "match": ok}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sha-gate", action="store_true", help="check the seed-42 20k-doc kernel digest")
    args = ap.parse_args()
    _isolate_env()
    adopt_orphans()
    try:
        return run(ap, args)
    finally:
        reap_children()


def run(ap: argparse.ArgumentParser, args: argparse.Namespace) -> int:
    if args.sha_gate:
        return sha_gate()

    from check import load_golden
    from inputs import WORKLOADS, prepare

    if args.workload not in WORKLOADS or args.seed is None:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} and --seed is required")
    wl = WORKLOADS[args.workload]
    procs = min(4, os.cpu_count() or 1)
    inp = prepare(wl, args.seed, ROOT, CACHE, procs)
    _log(f"inputs: {len(inp.row_ids)} rows, generated in {inp.gen_s:.2f} s, cache {'hit' if inp.cache_hit else 'miss'}")
    golden = load_golden(inp.golden_path)

    spark, setup_s, start_s = start_session(inp.pages_path)
    _log(f"setup: {setup_s:.3f} s (session {start_s:.3f} s)")
    try:
        job = Job(spark, wl, inp, golden, jvm_pid())
        tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            metrics, checks, attempted = per_layer(
                job, args.seconds, _slots(), start_s, os.path.join(OUT, f"{tag}.spans.json")
            )
        else:
            metrics, checks, attempted = end_to_end(job, args.seconds, setup_s)
        checks = job.prep_checks + checks
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)

    spec = load_spec()["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != {m["name"] for m in spec}:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ {m['name'] for m in spec})}")
    problems = [m for c in checks for m in c["mismatches"]]
    failed = sum(c["bad_rows"] for c in checks)
    for m in problems:
        _log(f"CHECK FAILED: {m}")
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(
            {"inputs": {"rows": len(inp.row_ids), "gen_s": inp.gen_s, "cache_hit": inp.cache_hit},
             "setup_s": setup_s, "checks": checks,
             "metrics": metrics},
            f, indent=1, default=str,
        )
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
