"""One fresh Spark process of a benchmark run.

``--mode setup`` times process start to a ready session and exits.
``--mode measure`` does the same, then runs the workload's queries
through the driver contract (``__spark_entry__.queries()[name]``, then
``.collect()``): one first pass in the fresh JVM, then a warm-up pass,
then warm passes until ``--seconds`` have gone by since the first pass
ended. The record goes to ``--out`` as JSON.

The parent passes its ``time.monotonic()`` at spawn in ``PERFBENCH_T0``;
``CLOCK_MONOTONIC`` is system-wide on Linux, so set-up time includes
interpreter start and imports.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.inputs import owns  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Pass 0 runs in the fresh JVM; pass 1 is a JIT warm-up pass whose time
# still falls steeply, so warm metrics use passes 2.. (at least three).
WARM_FROM = 2
MIN_WARM_PASSES = 3


def _setup(sf_dir: str) -> tuple:
    """The timed set-up: session, query registry, fixture preflight."""
    t0 = float(os.environ["PERFBENCH_T0"])
    layers = {}
    t = time.monotonic()
    from sd2_drp_experimentgen_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    layers["session.get_spark_s"] = time.monotonic() - t
    t = time.monotonic()
    from sd2_drp_experimentgen_spark.plans import all_specs

    specs = all_specs()
    layers["plans.all_specs_s"] = time.monotonic() - t
    t = time.monotonic()
    from sd2_drp_experimentgen_spark.sources.preflight import assert_fixture_schemas

    assert_fixture_schemas(sf_dir)
    layers["sources.preflight_s"] = time.monotonic() - t
    return spark, specs, time.monotonic() - t0, layers


def _run_query(spark, fn, sf_dir, release, tracer, group):
    """(build_s, collect_s, release_s, (schema, rows) or None, error, counts)."""
    if tracer is not None:
        tracer.begin(group)
    result = err = None
    t0 = time.perf_counter()
    t1 = t0
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        result = (df.schema, df.collect())
    except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
        err = traceback.format_exc(limit=3)
    t2 = time.perf_counter()
    release()
    t3 = time.perf_counter()
    counts = tracer.end() if tracer is not None else {}
    return t1 - t0, t2 - t1, t3 - t2, result, err, counts


def _scratch_bytes(tag: str) -> int:
    """Bytes the program keeps under ``.scratch`` for this input set."""
    root = os.path.join(ROOT, ".scratch")
    total = 0
    if not os.path.isdir(root):
        return 0
    for entry in os.listdir(root):
        if not owns(entry, tag):
            continue
        for dirpath, _, files in os.walk(os.path.join(root, entry)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def _peak_rss_mb(jvm_pid: int) -> float:
    """JVM ``VmHWM`` plus this driver's ``ru_maxrss``, in MiB."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def measure(spark, specs, workload, sf_dir, seconds, trace, jvm_pid) -> dict:
    import __spark_entry__
    from sd2_drp_experimentgen_spark.functions.helpers import release_persisted

    from perfbench.check import check_results

    queries = __spark_entry__.queries()
    names = WORKLOADS[workload]
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    first: dict = {}  # name -> (schema, rows) of the first pass
    errors: dict[str, str] = {}

    def run_pass(p: int) -> dict:
        gc0 = tracer.gc_ms() if tracer else 0.0
        record = {"queries": {}}
        t0 = time.perf_counter()
        for name in names:
            build, collect, rel, result, err, counts = _run_query(
                spark, queries[name], sf_dir, release_persisted, tracer, f"pb{p}:{name}"
            )
            if err is not None:
                errors.setdefault(name, err)
            elif p == 0:
                first[name] = result
            elif name in first and len(result[1]) != len(first[name][1]):
                errors.setdefault(
                    name, f"pass {p}: {len(result[1])} rows, first pass {len(first[name][1])}"
                )
            record["queries"][name] = {
                "module": specs[name].fn.__module__.rsplit(".", 1)[-1],
                "build_s": build,
                "collect_s": collect,
                "release_s": rel,
                **counts,
            }
        record["wall_s"] = time.perf_counter() - t0
        if tracer:
            record["jvm.gc_ms"] = tracer.gc_ms() - gc0
            record["scratch.bytes"] = _scratch_bytes(tag)
        return record

    passes = [run_pass(0)]
    warm_start = time.perf_counter()
    while (
        len(passes) < WARM_FROM + MIN_WARM_PASSES
        or time.perf_counter() - warm_start < seconds
    ):
        passes.append(run_pass(len(passes)))
    out = {
        "passes": passes,
        "peak_rss_mb": _peak_rss_mb(jvm_pid),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if tracer:
        out["jvm.heap_used_peak_mb"] = tracer.heap_peak_mb()
    # output check, outside every timed region
    cache = os.path.join(ROOT, ".perfbench", "oracle")
    out["checks"] = check_results(sf_dir, cache, specs, names, first, errors)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "measure"), required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spark, specs, setup_s, layers = _setup(args.data)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    record = {"setup_s": setup_s, "setup_layers": layers, "jvm_pid": jvm_pid}
    try:
        if args.mode == "measure":
            record.update(
                measure(
                    spark, specs, args.workload, args.data, args.seconds, bool(args.trace), jvm_pid
                )
            )
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
