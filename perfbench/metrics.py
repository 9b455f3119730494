"""Reduce a worker record to the metrics named in BENCHMARK.json."""

from __future__ import annotations

import json
import os
import statistics

from perfbench.worker import WARM_FROM
from perfbench.workloads import WORKLOADS

OPERATOR_FIELDS = ("build_s", "collect_s", "jobs", "stages", "tasks")
SUM_FIELDS = (
    "sql.shuffle_write_bytes",
    "sql.shuffle_read_bytes",
    "sql.spill_bytes",
    "sql.files_written",
    "sql.bytes_written",
    "python.worker_start_ms",
    "python.worker_run_ms",
    "python.bytes_from_worker",
    "stream.batches",
    "stream.add_batch_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.query_planning_ms",
)
RUN_FIELDS = ("peak_rss_mb", "jvm.heap_used_peak_mb")
SETUP_FIELDS = ("session.get_spark_s", "plans.all_specs_s", "sources.preflight_s")

with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}


def operator_modules() -> list[str]:
    from sd2_drp_experimentgen_spark.plans import all_specs

    specs = all_specs()
    return sorted(
        {specs[q].fn.__module__.rsplit(".", 1)[-1] for w in WORKLOADS.values() for q in w}
    )


def per_layer_names() -> list[str]:
    names = list(SETUP_FIELDS)
    for mod in operator_modules():
        names += [f"operators.{mod}.{f}" for f in OPERATOR_FIELDS]
    names += [*SUM_FIELDS, "stream.scaffold_s", "scratch.bytes", "helpers.release_persisted_s"]
    return names + ["jvm.gc_ms", *RUN_FIELDS]


def _metrics(values: dict) -> dict:
    return {name: {"value": v, "unit": UNITS[name]} for name, v in values.items()}


def end_to_end(run: dict, setup_s: float, attempted: int, failed: int) -> dict:
    walls = [p["wall_s"] for p in run["passes"]]
    return _metrics(
        {
            "setup_s": setup_s,
            "first_pass_s": walls[0],
            "warm_pass_s": statistics.median(walls[WARM_FROM:]),
            "ok_share": (attempted - failed) / attempted,
        }
    )


def _pass_sums(p: dict, modules: list[str]) -> dict[str, float]:
    """One traced pass's per-layer sums over its queries."""
    qs = p["queries"].values()
    out = {}
    for mod in modules:
        for f in OPERATOR_FIELDS:
            out[f"operators.{mod}.{f}"] = sum(q.get(f, 0) for q in qs if q["module"] == mod)
    for f in SUM_FIELDS:
        out[f] = sum(q.get(f, 0) for q in qs)
    out["stream.scaffold_s"] = sum(
        q["build_s"] + q["collect_s"] - q["stream.trigger_ms"] / 1e3
        for q in qs
        if q["stream.queries"]
    )
    out["helpers.release_persisted_s"] = sum(q["release_s"] for q in qs)
    out["jvm.gc_ms"] = p["jvm.gc_ms"]
    return out


def per_layer(run: dict) -> dict:
    """Medians over the warm passes of each pass's sums; ``scratch.bytes``,
    the memory peaks and the set-up layers are read once per run."""
    sums = [_pass_sums(p, operator_modules()) for p in run["passes"][WARM_FROM:]]
    values = {name: statistics.median(s[name] for s in sums) for name in sums[0]}
    values["scratch.bytes"] = run["passes"][-1]["scratch.bytes"]
    values.update({f: run[f] for f in RUN_FIELDS})
    values.update(run["setup_layers"])
    return _metrics({name: values[name] for name in per_layer_names()})
