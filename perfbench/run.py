"""Benchmark of the doc2vec loop on a ChunkStore: cold ingest, re-sync under
churn, and MCP tool-call serving, driven only through the public engine API
(``Doc2VecSparkEngine`` on a session from ``session.get_spark``) with
generated files on disk.

    python3 perfbench/run.py --workload resync --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --workload query --seed 1 --seconds 22 --trace 1
    python3 perfbench/run.py --selfcheck

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a fixed traced script with ``--trace 1``. A readable
record (sizes, setup split, sample counts, rounds, errors) goes to stderr.
Every file the run makes (corpus, store, Spark scratch and temp files) lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("resync", "query")
PAGES = 40
# explicit driver heap: the session default (16g) is sized for a 128 GiB
# host; 3g leaves room on a 15 GiB one
DRIVER_MEM = "3g"
SELFCHECK_PAGES = 12


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.chdir(work)


def _remove(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        WORK.rmdir()  # only when no other run is using it
    except OSError:
        pass


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


@contextmanager
def session():
    """A Spark session from the program's factory; yields (spark, start
    seconds). On exit stops Spark and waits for the JVM to end."""
    t0 = time.perf_counter()
    from pyspark import SparkContext

    from doc2vec_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    try:
        yield spark, time.perf_counter() - t0
    finally:
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def end_to_end(loop, setup_s: float, peak_rss_mb: float):
    """The end-to-end metrics of an untraced run, and their sample counts."""

    def seconds(kind):
        return [o.seconds for o in loop.ops if o.kind == kind and o.phase != "warm_up"]

    def p50_ms(values):
        return 1e3 * statistics.median(values)

    # every timed call follows an edit run's commit in both workloads
    burst = seconds("knn") + seconds("lookup")
    (ingest_s,) = seconds("ingest")
    metrics = {
        "setup_s": (setup_s, "s"),
        "ingest_docs_per_s": (loop.sizes["pages"] / ingest_s, "pages/s"),
        "resync_noop_s": (statistics.median(seconds("noop")), "s"),
        "resync_edit_s": (statistics.median(seconds("edit")), "s"),
        "resync_query_p50_ms": (p50_ms(burst), "ms"),
        "knn_p50_ms": (p50_ms(seconds("knn")), "ms"),
        "lookup_p50_ms": (p50_ms(seconds("lookup")), "ms"),
        "store_bytes_per_doc_byte": (loop.store_bytes_per_doc_byte, "B/B"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    samples = {k: len(seconds(k)) for k in ("ingest", "edit", "noop", "knn", "lookup")}
    samples["burst"] = len(burst)
    return metrics, samples


def measure(spark, start_s: float, workload: str, seed: int, seconds: float, trace: bool,
            work: Path, pages: int = PAGES) -> tuple[dict, dict]:
    """One run of ``workload``: returns (result line, readable record)."""
    from perfbench.layers import Layers, install_tracer, unit
    from perfbench.workloads import Loop, rounds_for

    t0 = time.perf_counter()
    tracer = install_tracer(spark) if trace else None
    try:
        loop = Loop(spark, str(work), seed, pages, tracer)
        loop.ingest()
        loop.block("warm_up")
        setup_s = start_s + time.perf_counter() - t0
        t1 = time.perf_counter()
        if workload == "resync":
            loop.run_resync(rounds_for(seconds))
        else:
            loop.run_query(rounds_for(seconds))
        window_s = time.perf_counter() - t1
        loop.check_store()
        peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid())) / 1024
        metrics, samples = end_to_end(loop, setup_s, peak_rss_mb)
        if trace:
            # the traced run's own end-to-end figures: compared with the
            # untraced runs' medians they give the tracing overhead
            traced = {k: v for k, (v, _u) in metrics.items()}
            values = Layers(tracer, loop).compute()
            metrics = {k: (v, unit(k)) for k, v in values.items()}
            samples["spans"] = len(tracer.spans)
    finally:
        if tracer is not None:
            tracer.restore()
    ops = loop.ops
    failed = sum(o.error is not None for o in ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "sizes": loop.sizes,
        "setup": {
            "spark_start_s": start_s,
            "generate_s": loop.generate_s,
            "ingest_s": loop.ops[0].seconds,
        },
        "window_s": window_s,
        "samples": samples,
        "rounds": loop.rounds,
        "error_rate": failed / len(ops),
        "errors": loop.errors(),
    }
    if trace:
        record["traced_end_to_end"] = traced
    return result, record


def _report(result: dict, record: dict) -> None:
    print(json.dumps(record, indent=1), file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{name:44s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)


def selfcheck() -> int:
    """Tiny pass over every workload, untraced and traced, then once more
    with a wrong answer injected, which must show as a failed operation."""
    from perfbench.layers import names

    work = WORK / f"selfcheck-{os.getpid()}"
    _environment(work)
    problems = []
    with open(ROOT / "BENCHMARK.json") as f:
        declared = json.load(f)
    e2e = [m["name"] for m in declared["end_to_end"]]
    per_layer = [m["name"] for m in declared["per_layer"]]
    if per_layer != names():
        problems.append("BENCHMARK.json per_layer differs from layers.names()")
    try:
        with session() as (spark, start_s):
            n = 0
            for workload in WORKLOADS:
                for trace in (False, True):
                    n += 1
                    result, record = measure(
                        spark, start_s, workload, 7, 1, trace, work / str(n), SELFCHECK_PAGES
                    )
                    want = per_layer if trace else e2e
                    tag = f"{workload} trace={int(trace)}"
                    if result["failed"] or not result["correct"]:
                        problems.append(f"{tag}: {record['errors']}")
                    if sorted(result["metrics"]) != sorted(want):
                        problems.append(f"{tag}: metric names differ from BENCHMARK.json")
                    if not trace and not all(m["value"] > 0 for m in result["metrics"].values()):
                        problems.append(f"{tag}: an end-to-end metric is not positive")
            from doc2vec_spark.engine import Doc2VecSparkEngine

            original = Doc2VecSparkEngine.reconstruct_page

            def wrong(self, url):
                page = original(self, url)
                return page[:-1] if page else "x"

            Doc2VecSparkEngine.reconstruct_page = wrong
            try:
                result, record = measure(
                    spark, start_s, "query", 7, 1, False, work / "fault", SELFCHECK_PAGES
                )
            finally:
                Doc2VecSparkEngine.reconstruct_page = original
            if not result["failed"] or result["correct"]:
                problems.append("an injected wrong reconstruct_page answer was not caught")
            else:
                print(f"injected fault caught: {record['errors'][0]}", file=sys.stderr)
    finally:
        _remove(work)
    for p in problems:
        print(f"SELFCHECK FAIL: {p}", file=sys.stderr)
    print("selfcheck " + ("failed" if problems else "passed"))
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    if args.selfcheck:
        return selfcheck()
    if args.workload is None:
        ap.error("--workload is required")
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    try:
        with session() as (spark, start_s):
            result, record = measure(
                spark, start_s, args.workload, args.seed, args.seconds, bool(args.trace), work
            )
    finally:
        _remove(work)
    _report(result, record)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
