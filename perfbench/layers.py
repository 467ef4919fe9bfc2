"""Layer probes for the traced run, installed from outside the package.

Nothing in the package changes: the probes replace module attributes
the package looks up at call time (``sources.io.load_table`` and the
write functions, ``operators.joins.advise_strategy``) and the Py4J
gateway client's ``send_command``. Each probe opens a span, and the
write probe also tags the write's Spark jobs with their own job group,
because the package submits some writes from pool threads, which do not
inherit the caller's job group.

Spark job, stage and task counters are read from the status tracker
and the app-status store after each operation, per job group.
"""

from __future__ import annotations

import statistics

from py4j import protocol as proto

PKG = "mapreduce_join_comparison_spark"
WRITE_FUNCS = ("write_table", "write_bucketed")
PY4J_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


def install(tracer, spark, modules: dict) -> dict:
    """Wrap the layer entry points; return a dict the advise probe
    fills with the last advised strategy."""
    io, sources, joins = (modules["sources.io"], modules["sources"],
                          modules["operators.joins"])
    sc = spark.sparkContext
    advised: dict = {}

    load_table = io.load_table

    def traced_load_table(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return load_table(*args, **kwargs)

    io.load_table = sources.load_table = traced_load_table

    def wrap_write(fn):
        def traced_write(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            previous = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{tracer.op}:write", "perfbench write")
            try:
                with tracer.span("sources.write"):
                    return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", previous)
        return traced_write

    for name in WRITE_FUNCS:
        wrapped = wrap_write(getattr(io, name))
        setattr(io, name, wrapped)
        if hasattr(sources, name):
            setattr(sources, name, wrapped)

    advise_strategy = joins.advise_strategy

    def traced_advise(*args, **kwargs):
        with tracer.span("joins.advise_strategy"):
            pick = advise_strategy(*args, **kwargs)
        advised["pick"] = pick[0]
        return pick

    joins.advise_strategy = traced_advise

    client = sc._gateway._gateway_client
    send_command = client.send_command

    def counted_send(command, *args, **kwargs):
        # object releases are sent by py4j's finalizer thread whenever
        # Python frees a proxy; counting them would make the count vary
        if not command.startswith(PY4J_RELEASE):
            tracer.count_py4j()
        return send_command(command, *args, **kwargs)

    client.send_command = counted_send
    return advised


# StageData getter → counter name; times in ms, sizes in bytes
STAGE_FIELDS = {
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "outputBytes": "output_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "diskBytesSpilled": "spill_disk_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
}


class StatusReader:
    """Job, stage and task counters per job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final counters of jobs that just ended."""
        self._bus.waitUntilEmpty()

    def group(self, group: str, task_times: bool = False) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({v: 0 for v in STAGE_FIELDS.values()})
        times: list[float] = []
        stage_ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for getter, name in STAGE_FIELDS.items():
                out[name] += getattr(sd, getter)()
            if task_times:
                tasks = self._store.taskList(sid, sd.attemptId(),
                                             sd.numTasks())
                for i in range(tasks.size()):
                    m = tasks.apply(i).taskMetrics()
                    if m.isDefined():
                        times.append(m.get().executorRunTime() / 1000.0)
        if task_times:
            out["task_max_s"] = max(times, default=0.0)
            med = statistics.median(times) if times else 0.0
            out["task_skew"] = out["task_max_s"] / med if med > 0 else 0.0
        return out


class JvmCounters:
    """The driver JVM's cumulative JIT compile time and count of
    generated classes compiled by Spark's code generator. In local mode
    the tasks run in that JVM too. JIT compilation runs on background
    threads, so an operation's share of it is approximate; the sum over
    a pass is not."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._jit = jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, int]:
        return self._jit.getTotalCompilationTime(), self._codegen.getCount()

    def since(self, before: tuple[int, int]) -> dict:
        jit_ms, compiles = self.read()
        return {"jit_ms": jit_ms - before[0],
                "codegen_compiles": compiles - before[1]}


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of this Python process plus the JVM, from /proc."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
