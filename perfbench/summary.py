"""Metric names, units and the reductions from per-operation records to
the numbers the result line carries."""

from __future__ import annotations

import math
import statistics

from workloads import JOIN_STRATEGIES, ZIPF_SKEWS

# name → unit; BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

# counters summed over the operations of one pass: metric → (record
# field, scale to the metric's unit)
PASS_SUMS = {
    "construct.s": ("construct_s", 1),
    "construct.jobs": ("construct_jobs", 1),
    "construct.py4j_calls": ("py4j_calls", 1),
    "sources.load_table_s": ("load_table_s", 1),
    "sources.load_table_calls": ("load_table_calls", 1),
    "sources.write_s": ("write_s", 1),
    "sources.write_bytes": ("write_bytes", 1),
    "execute.s": ("execute_s", 1),
    "execute.jobs": ("jobs", 1),
    "execute.stages": ("stages", 1),
    "execute.tasks": ("tasks", 1),
    "execute.task_s": ("task_ms", 1e-3),
    "execute.gc_s": ("gc_ms", 1e-3),
    "scan.input_bytes": ("input_bytes", 1),
    "scan.input_rows": ("input_rows", 1),
    "shuffle.write_bytes": ("shuffle_write_bytes", 1),
    "shuffle.read_bytes": ("shuffle_read_bytes", 1),
    "shuffle.fetch_wait_s": ("fetch_wait_ms", 1e-3),
    "spill.disk_bytes": ("spill_disk_bytes", 1),
    "spill.memory_bytes": ("spill_memory_bytes", 1),
    "joins.advise_s": ("advise_s", 1),
    "jit.compile_s": ("jit_ms", 1e-3),
    "codegen.compiles": ("codegen_compiles", 1),
}
# maxima over the operations of one pass
PASS_MAXES = {"task.max_s": "task_max_s", "task.skew": "task_skew"}
# spans whose self time is reported, as self.<span>_s
SELF_SPANS = ("op", "construct", "execute", "sources.load_table",
              "sources.write", "joins.advise_strategy")


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("busy_frac", "advise_hit")):
        return "fraction"
    if name == "task.skew":
        return "ratio"
    return "count"


PER_LAYER_NAMES = (
    ["session.start_s", "queries_catalog.import_s", "generator.stage_s",
     "sources.staged_bytes", "machine.anchor_s"]
    + list(PASS_SUMS)
    + ["execute.busy_frac"]
    + list(PASS_MAXES)
    + ["joins.advise_hit"]
    + [f"join.{s}_s" for s in JOIN_STRATEGIES]
    + [f"shuffle.write_bytes.{s}" for s in JOIN_STRATEGIES]
    + [f"self.{s}_s" for s in SELF_SPANS]
    + ["trace.pass_s", "trace.overhead_s"]
)
PER_LAYER = {name: _unit(name) for name in PER_LAYER_NAMES}


def tail(values: list[float], beyond: int = 10) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that leaves
    at least ``beyond`` samples above it, nearest-rank definition."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples, have {n}")
    pct = 100 * (n - beyond) // n
    return xs[math.ceil(pct * n / 100) - 1], pct


def end_to_end(setup_s: float, passes: list[dict], rss_mb: float) -> dict:
    latencies = [op["latency_s"] for p in passes for op in p["ops"]]
    tail_s, _ = tail(latencies)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": tail_s,
        "peak_rss_mb": rss_mb,
    }


def join_medians(passes: list[dict], field: str) -> dict[str, float]:
    """Strategy → its median ``field`` per skew cell, summed over the
    cells; 0 where a workload runs no zipf joins."""
    out = {}
    for strategy in JOIN_STRATEGIES:
        total = 0.0
        for skew in ZIPF_SKEWS:
            vals = [op[field] for p in passes for op in p["ops"]
                    if op["name"] == f"{strategy}@{skew}"]
            if vals:
                total += statistics.median(vals)
        out[strategy] = total
    return out


def advise_hit(passes: list[dict]) -> float:
    """Share of (pass, skew cell) pairs where the advised strategy was
    the fastest of the three forced strategies in that cell."""
    hits = []
    for p in passes:
        for skew in ZIPF_SKEWS:
            cell = {op["name"].split("@")[0]: op for op in p["ops"]
                    if op["name"].endswith(f"@{skew}")}
            if "advised" not in cell or "pick" not in cell["advised"]:
                continue
            forced = {s: cell[s]["latency_s"] for s in JOIN_STRATEGIES
                      if s != "advised" and s in cell}
            if forced:
                hits.append(cell["advised"]["pick"]
                            == min(forced, key=forced.get))
    return sum(hits) / len(hits) if hits else 0.0


def per_layer(setup: dict, traced: list[dict], untraced: list[dict],
              cores: int) -> dict:
    """Per-layer metrics from the traced passes of a traced run."""
    out = {
        "session.start_s": setup["session.start_s"],
        "queries_catalog.import_s": setup["queries_catalog.import_s"],
        "generator.stage_s": setup.get("generator.stage_s", 0.0),
        "sources.staged_bytes": setup.get("sources.staged_bytes", 0),
        "machine.anchor_s": setup["machine.anchor_s"],
    }
    for metric, (field, scale) in PASS_SUMS.items():
        out[metric] = statistics.median(
            sum(op.get(field, 0) for op in p["ops"]) * scale
            for p in traced)
    busy = []
    for p in traced:
        ex = sum(op["execute_s"] for op in p["ops"])
        task = sum(op["task_ms"] for op in p["ops"]) / 1000.0
        busy.append(task / (ex * cores) if ex > 0 else 0.0)
    out["execute.busy_frac"] = statistics.median(busy)
    for metric, field in PASS_MAXES.items():
        out[metric] = statistics.median(
            max(op[field] for op in p["ops"]) for p in traced)
    out["joins.advise_hit"] = advise_hit(traced)
    for strategy, v in join_medians(traced, "latency_s").items():
        out[f"join.{strategy}_s"] = v
    for strategy, v in join_medians(traced, "shuffle_write_bytes").items():
        out[f"shuffle.write_bytes.{strategy}"] = v
    for name in SELF_SPANS:
        out[f"self.{name}_s"] = statistics.median(
            sum(op["self"].get(name, 0.0) for op in p["ops"])
            for p in traced)
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    out["trace.pass_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - statistics.median(
        p["wall_s"] for p in untraced)
    return out


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, units: dict) -> dict:
    """The benchmark's last stdout line; ``units`` names exactly the
    metrics to print."""
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }
