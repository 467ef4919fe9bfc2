"""The repository benchmark: one closed-loop client driving the engine's
public entry points on one ``local[nproc]`` SparkSession.

    python3 perfbench/run.py --workload catalog-corpus --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones, plus the difference between the
two pass times as the tracing overhead. Both print one JSON line per
run last on stdout; a ``{"detail": ...}`` line before it records the
resolved master, parallelism, Spark version, calibration anchor and
failure share. Every output is checked outside the timed spans; a
failed check makes the command exit 1. Without the package next to
the benchmark it exits 2 and prints no result.

Inputs, caches, staged tables and the run record (spans included) live
under ``.bench_build/perfbench`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

import checks
import datagen
import layers
import summary
from spans import Tracer, self_times
from workloads import WORKLOADS, ZIPF_KEYS, ZIPF_ROWS, ZIPF_SKEWS

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
PKG = layers.PKG
ANCHOR_REPEATS = 3
MIN_PASSES = 3
MIN_OPS = 11  # the tail percentile needs ten samples beyond it
CHECKSUM_MOD = 2_147_483_647
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure about this long, in whole passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cores: int) -> None:
    """Pin parallelism and keep every file the run writes inside the
    checkout. Must run before the JVM starts."""
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # spark-submit's launcher JVM would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                    "-XX:-UsePerfData") if p)
    # session.default_parallelism() falls back to 32 when unset
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the generator's pandas UDF imports the package in the workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))


def import_catalog():
    """Import the query catalog afresh: drop every package module except
    the session factory, whose session is already running. The package
    attributes go too: ``from . import x`` skips the import when the
    package already has an attribute ``x``."""
    package = sys.modules.get(PKG)
    for name in [m for m in sys.modules if m.startswith(PKG + ".")
                 and m != PKG + ".session"]:
        del sys.modules[name]
        child = name[len(PKG) + 1:]
        if "." not in child and hasattr(package, child):
            delattr(package, child)
    return importlib.import_module(PKG + ".queries_catalog")


class Bench:
    def __init__(self, args, cores: int):
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = cores
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.tracer.active = self.trace
        self.setup: dict = {}
        self.passes: list[dict] = []
        self.attempted = 0
        self.errors: list[str] = []
        self.spark = None
        self.stage_dir = BUILD / "staged" / f"seed{args.seed}"

    # -- set-up ---------------------------------------------------------

    def _timed(self, name: str, fn):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
        return out, time.perf_counter() - t0

    def start(self) -> None:
        from mapreduce_join_comparison_spark.session import get_spark

        def start_session():
            spark = get_spark(
                app_name="perfbench",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.master": f"local[{self.cores}]",
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(BUILD / "warehouse"),
                    # a fixed, pre-touched heap keeps GC behaviour and
                    # resident memory alike across runs; no perf-data
                    # file in the system /tmp
                    "spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                        f"-XX:-UsePerfData -Djava.io.tmpdir={BUILD / 'tmp'}",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            return spark

        shutil.rmtree(BUILD / "warehouse", ignore_errors=True)
        self.spark, self.setup["session.start_s"] = self._timed(
            "session.start", start_session)
        self.qc, self.setup["queries_catalog.import_s"] = self._timed(
            "queries_catalog.import", import_catalog)
        self.modules = {m: sys.modules[f"{PKG}.{m}"] for m in
                        ("sources", "sources.io", "operators.joins")}
        sc = self.spark.sparkContext
        self.runtime = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(
                self.spark.conf.get("spark.sql.shuffle.partitions")),
            "cores": self.cores,
            "spark_version": self.spark.version,
        }
        if self.workload.kind == "catalog":
            self._prepare_catalog()
        else:
            self._stage_zipf()

    def _prepare_catalog(self) -> None:
        """Build step, outside set-up time: tables and cached oracle
        results are made once per checkout."""
        self.data_dir = str(BUILD / "data")
        fingerprint = datagen.ensure_tables(self.data_dir)
        cache = checks.OracleCache(str(BUILD / "oracle"), self.data_dir,
                                   fingerprint, datagen.TABLES)
        try:
            self.expected = {k: cache.expected(self.qc.ORACLES[k])
                             for k in self.workload.keys}
        finally:
            cache.close()

    def _stage_zipf(self) -> None:
        from mapreduce_join_comparison_spark.generator import (
            generate_zipf_pair)
        from mapreduce_join_comparison_spark.session import LOCAL_SKEW_CONF

        shutil.rmtree(self.stage_dir, ignore_errors=True)

        def stage():
            for skew in ZIPF_SKEWS:
                with self.tracer.span("generator.generate_zipf_pair"):
                    dim, fact = generate_zipf_pair(
                        self.spark, ZIPF_ROWS, ZIPF_KEYS, s=skew,
                        seed=self.seed)
                fact.write.parquet(str(self.stage_dir / f"{skew}/fact"))
                dim.write.parquet(str(self.stage_dir / f"{skew}/dim"))

        _, self.setup["generator.stage_s"] = self._timed(
            "generator.stage", stage)
        self.setup["sources.staged_bytes"] = sum(
            f.stat().st_size for f in self.stage_dir.rglob("*.parquet"))
        self.staged, self.expected_count = {}, {}
        for skew in ZIPF_SKEWS:
            base = self.stage_dir / str(skew)
            self.staged[skew] = (
                self.spark.read.parquet(str(base / "fact")),
                self.spark.read.parquet(str(base / "dim"))
                .selectExpr("k AS dk", "a1 AS d1"))
            self.expected_count[skew] = checks.zipf_cardinality(
                checks.staged_key_counts(str(base / "fact")),
                checks.staged_key_counts(str(base / "dim")))
        self.checksums: dict = {}
        # AQE skew-split thresholds sized for local partitions, as in
        # bench.py, so the 1.2 cell takes the split path
        for key, value in LOCAL_SKEW_CONF.items():
            self.spark.conf.set(key, value)

    # -- one operation ------------------------------------------------------

    def construct(self, name: str):
        if self.workload.kind == "catalog":
            return self.qc.QUERIES[name](self.spark, self.data_dir)
        strategy, skew = name.split("@")
        fact, dim = self.staged[float(skew)]
        return self.modules["operators.joins"].equi_join(
            fact, dim, "k", "dk", "inner", strategy)

    def materialize(self, df):
        if self.workload.kind == "catalog":
            return df.toArrow()
        from pyspark.sql import functions as F

        row = df.agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*sorted(df.columns)),
                         F.lit(CHECKSUM_MOD))),
        ).collect()[0]
        return int(row[0]), int(row[1])

    def check(self, name: str, result) -> str | None:
        if self.workload.kind == "catalog":
            return checks.compare(name, checks.arrow_result(result),
                                  self.expected[name])
        strategy, skew = name.split("@")
        return checks.check_zipf(skew, strategy, result[0], result[1],
                                 self.expected_count[float(skew)],
                                 self.checksums)

    def run_op(self, op_id: str, name: str, traced: bool) -> dict:
        """Construct and materialize one operation; returns its record.
        The output check runs after the timed part."""
        sc = self.spark.sparkContext
        tracer = self.tracer
        rec: dict = {"name": name, "op": op_id}
        tracer.op = op_id
        if traced:
            jvm_before = self.jvm_counters.read()
        t0 = time.perf_counter()
        with tracer.span("op"):
            if traced:
                sc.setJobGroup(f"{op_id}:construct", name)
            with tracer.span("construct") as span:
                calls = tracer.py4j_calls
                df = self.construct(name)
                rec["py4j_calls"] = tracer.py4j_calls - calls
            if traced:
                rec["construct_s"] = span.end - span.start
                sc.setJobGroup(f"{op_id}:execute", name)
            with tracer.span("execute") as span:
                result = self.materialize(df)
            t2 = time.perf_counter()
            if traced:
                rec["execute_s"] = span.end - span.start
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec["latency_s"] = t2 - t0
        if traced:
            self._harvest(rec, op_id)
            rec.update(self.jvm_counters.since(jvm_before))
        rec["result"] = result
        return rec

    def _harvest(self, rec: dict, op_id: str) -> None:
        """Status-store counters and span sums of one traced operation."""
        self.reader.drain()
        construct = self.reader.group(f"{op_id}:construct")
        write = self.reader.group(f"{op_id}:write")
        execute = self.reader.group(f"{op_id}:execute", task_times=True)
        rec["construct_jobs"] = construct["jobs"] + write["jobs"]
        rec["write_bytes"] = write["output_bytes"]
        rec.update(execute)
        spans = [s for s in self.tracer.spans if s.op == op_id]
        selfs = self_times(spans)
        rec["self"] = {}
        for s in spans:
            rec["self"][s.name] = rec["self"].get(s.name, 0.0) + selfs[s.id]
        dur = {}
        for s in spans:
            dur.setdefault(s.name, []).append(s.end - s.start)
        rec["load_table_s"] = sum(dur.get("sources.load_table", []))
        rec["load_table_calls"] = len(dur.get("sources.load_table", []))
        rec["write_s"] = sum(dur.get("sources.write", []))
        rec["advise_s"] = sum(dur.get("joins.advise_strategy", []))
        if "joins.advise_strategy" in dur:
            rec["pick"] = self.advised.get("pick")

    # -- passes ---------------------------------------------------------

    def run_pass(self, index: int, traced: bool) -> dict:
        """One pass over the operations in a seed-permuted order. The
        pass time excludes the output checks."""
        order = list(self.workload.keys)
        self.rng.shuffle(order)
        self.tracer.active = traced
        ops, checking = [], 0.0
        t0 = time.perf_counter()
        for i, name in enumerate(order):
            self.attempted += 1
            try:
                rec = self.run_op(f"p{index}o{i}", name, traced)
            except Exception as e:  # noqa: BLE001 — counted and reported
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                continue
            tc = time.perf_counter()
            try:
                err = self.check(name, rec.pop("result"))
            except Exception as e:  # noqa: BLE001 — a failed check
                err = f"{name}: check raised {type(e).__name__}: {e}"
            if err:
                self.errors.append(err[:500])
            checking += time.perf_counter() - tc
            ops.append(rec)
        self.tracer.active = self.trace
        wall = time.perf_counter() - t0 - checking
        return {"index": index, "traced": traced, "wall_s": wall,
                "ops": ops}

    def warm_up(self) -> None:
        """The workload's unmeasured passes, so measured passes find
        compiled code and warm caches; then the calibration anchor."""
        def passes():
            return [self.run_pass(-1 - i, traced=False)["wall_s"]
                    for i in range(self.workload.warmup_passes)]

        self.setup["warmup_pass_s"], self.setup["warmup_s"] = self._timed(
            "warmup", passes)
        anchors = []
        for _ in range(ANCHOR_REPEATS):
            _, dt = self._timed("machine.anchor", self._anchor)
            anchors.append(dt)
        self.setup["machine.anchor_s"] = statistics.median(anchors)

    def _anchor(self) -> None:
        # the bench.py calibration job: CPU-bound codegen, no I/O
        self.spark.range(50_000_000).selectExpr(
            "sum(xxhash64(id) % 1000000) AS s").collect()

    def measure(self) -> None:
        if self.trace:
            self.advised = layers.install(self.tracer, self.spark,
                                          self.modules)
            self.reader = layers.StatusReader(self.spark)
            self.jvm_counters = layers.JvmCounters(self.spark)
        for index in range(self.n_passes()):
            # a traced run alternates untraced and traced passes
            self.passes.append(
                self.run_pass(index, self.trace and index % 2 == 1))

    def n_passes(self) -> int:
        """Passes for ``--seconds`` at the nominal pass time, at least
        three: the median of three tolerates one slow pass, such as a
        first pass the JIT has not finished with, and a traced run
        needs untraced-traced-untraced so its overhead estimate cancels
        that trend. At least enough passes for the tail percentile."""
        ops = len(self.workload.keys)
        return max(MIN_PASSES,
                   round(self.seconds / self.workload.nominal_pass_s),
                   math.ceil(MIN_OPS / ops))

    # -- results ----------------------------------------------------------

    def setup_s(self) -> float:
        return sum(self.setup.get(k, 0.0) for k in (
            "session.start_s", "queries_catalog.import_s",
            "generator.stage_s", "warmup_s"))

    def metrics(self) -> tuple[dict, dict]:
        untraced = [p for p in self.passes if not p["traced"]]
        if self.trace:
            traced = [p for p in self.passes if p["traced"]]
            return (summary.per_layer(self.setup, traced, untraced,
                                      self.cores), summary.PER_LAYER)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (summary.end_to_end(self.setup_s(), untraced,
                                   layers.peak_rss_mb(jvm_pid)),
                summary.END_TO_END)

    def detail(self) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        latencies = [op["latency_s"] for p in untraced for op in p["ops"]]
        _, pct = summary.tail(latencies) if len(latencies) > 10 else (0, 0)
        failed = len(self.errors)
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "trace": int(self.trace),
            **self.runtime,
            "machine.anchor_s": self.setup.get("machine.anchor_s"),
            "setup": self.setup,
            "passes": len(self.passes),
            "op_samples": len(latencies),
            "op_tail_percentile": pct,
            "failed_frac": failed / max(1, self.attempted),
            "join_s": summary.join_medians(untraced, "latency_s"),
            "errors": self.errors[:5],
        }

    def record(self, detail: dict, metrics: dict) -> Path:
        """Write the run record, spans included, once at the end."""
        out = BUILD / "runs" / (f"{self.workload.name}-seed{self.seed}"
                                f"-trace{int(self.trace)}.json")
        out.parent.mkdir(parents=True, exist_ok=True)
        with open(out, "w") as f:
            json.dump({"detail": detail, "metrics": metrics,
                       "passes": self.passes,
                       "spans": self.tracer.as_records()}, f, default=str)
        return out

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit; remove staged
        tables and the warehouse."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            self.spark = None
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        shutil.rmtree(BUILD / "warehouse", ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG} package in {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    cores = nproc()
    prepare_env(cores)
    bench = Bench(args, cores)
    try:
        bench.start()
        bench.warm_up()
        bench.measure()
        values, units = bench.metrics()
        detail = bench.detail()
        detail["record"] = str(bench.record(detail, values))
    finally:
        bench.close()
    failed = len(bench.errors)
    print(json.dumps({"detail": detail}))
    print(json.dumps(summary.result_line(
        failed == 0, bench.attempted, failed, values, units)))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
