"""Benchmark entry point; see perfbench/README.md.

    python3 perfbench/run.py --workload sd2_etl --seed 1 --seconds 10 --trace 0

Builds the seeded input (cached, untimed), then starts fresh worker
processes: one that measures the workload, and with ``--trace 0`` two
more that only time set-up, so ``setup_s`` is a median of three. The
last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it is the full run record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.metrics import end_to_end, per_layer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
FIXTURE = "sf0.1"
SETUP_SAMPLES = 3
RUN_TIMEOUT_S = 170  # a run must end within 180 s


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _env() -> dict:
    """Worker environment: every temp and spill path inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    return dict(
        env,
        # Python workers import the package
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH")))),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        TZ="UTC",
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
        ),
    )


def _clear_scratch(tag: str) -> None:
    """Drop the program's ``.scratch`` state for this input set."""
    root = os.path.join(ROOT, ".scratch")
    if os.path.isdir(root):
        for entry in os.listdir(root):
            if inputs.owns(entry, tag):
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _worker(mode: str, args, data: str, env: dict, n: int, run_dir: str, deadline: float) -> dict:
    out = os.path.join(run_dir, f"{mode}{n}.json")
    log = os.path.join(run_dir, f"{mode}{n}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
        "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out,
    ]  # fmt: skip
    env = dict(env, PERFBENCH_T0=repr(time.monotonic()))
    with open(log, "w") as logf:
        # own process group, so a timeout also ends the worker's JVM
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{mode} worker failed ({code}); its log is {log}")
    with open(out) as f:
        record = json.load(f)
    record["worker_wall_s"] = time.monotonic() - float(env["PERFBENCH_T0"])
    # the worker's JVM exits once the worker has closed its end of the gateway
    while _alive(record["jvm_pid"]) and time.monotonic() < deadline:
        time.sleep(0.05)
    return record


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    for need in ("__spark_entry__.py", "sd2_drp_experimentgen_spark", "tools/verify_local.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"program file {need} not found under {ROOT}")
    fixture = os.path.join(inputs.fixture_root(), FIXTURE)
    if not os.path.isdir(fixture):
        return _fail(f"fixture directory {fixture} not found")

    tag = inputs.basename(args.workload, args.seed)
    t_inputs = time.monotonic()
    data = inputs.build(os.path.join(WORK, "inputs", tag), args.seed, fixture)
    t_inputs = time.monotonic() - t_inputs
    _clear_scratch(tag)
    run_dir = os.path.join(WORK, "runs", f"{tag}_t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = _env()

    load_before = os.getloadavg()
    try:
        run = _worker("measure", args, data, env, 0, run_dir, deadline)
        setup_runs = [run]
        if not args.trace:
            setup_runs += [
                _worker("setup", args, data, env, i, run_dir, deadline)
                for i in range(1, SETUP_SAMPLES)
            ]
        setups = [r["setup_s"] for r in setup_runs]
    except RuntimeError as e:
        return _fail(str(e))
    load_after = os.getloadavg()

    # a query that failed its check or raised in any pass fails in every pass
    attempted = sum(len(p["queries"]) for p in run["passes"])
    failed = sum(1 for p in run["passes"] for n in p["queries"] if run["checks"][n] != "ok")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": run["master"],
        "default_parallelism": run["default_parallelism"],
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "inputs_s": t_inputs,
        "worker_wall_s": [r["worker_wall_s"] for r in setup_runs],
        "setup_samples_s": setups,
        "pass_wall_s": [p["wall_s"] for p in run["passes"]],
        "checks": run["checks"],
    }
    if args.trace:
        metrics = per_layer(run)
    else:
        metrics = end_to_end(run, statistics.median(setups), attempted, failed)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
