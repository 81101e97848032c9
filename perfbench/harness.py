"""Shared machinery: the Spark session the benchmark drives, the
warm-up rule, the closed op loop and the CPU/memory probes."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

# Warm-up: the first op of a process runs 3-4x slower than later ones
# (class loading, JIT, codegen and plan caches); the second still takes
# ~15-30% more CPU than steady state, the third ~5-10% more. A fixed
# count, so set-up never jumps by a whole op between runs. Two is what
# the time budget allows: a full benchmark pass is 48 runs in 3,420 s,
# and a run is ~10 s of session start, a ~25 s cold op and ~6-8 s per
# further op. Every warm-up op's CPU is in the run record.
WARM_OPS = 2
MIN_OPS = 2  # measured ops per run, however long they take


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Ctx:
    """What every workload gets: the session, its own scratch dir, the
    seed, the measured-phase length and whether this is a traced run."""

    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    event_log_dir: str = ""
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    marks: list = field(default_factory=list)  # (label, start_epoch_s, end_epoch_s)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def span(self, label: str):
        """Job group plus wall-clock mark around one call into the
        engine; the event log is later joined on the group id."""
        return _Span(self, label)


class _Span:
    def __init__(self, ctx: Ctx, label: str):
        self.ctx, self.label = ctx, label

    def __enter__(self):
        self.ctx.spark.sparkContext.setJobGroup(self.label, self.label)
        self.t0 = time.time()
        self.p0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.p0
        self.ctx.marks.append((self.label, self.t0, time.time()))
        self.ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.ctx.spark.sparkContext.setLocalProperty("spark.job.description", None)
        return False


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    """Confs that keep every file Spark and the JVM write inside the
    run's scratch dir (shuffle and spill files go to SPARK_LOCAL_DIRS,
    set by run.py); the engine's own tuning comes from get_spark."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    os.makedirs(os.path.join(work, "jvm-tmp"), exist_ok=True)
    return conf


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _ticks(stat_path: str, children: bool = False) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    n = int(fields[11]) + int(fields[12])  # utime + stime
    return n + int(fields[13]) + int(fields[14]) if children else n  # + cutime + cstime


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads."""
    jit = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    jit += _ticks(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # a thread that just ended
            continue
    return jit / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by the driver JVM (which runs the local
    executors too) plus this Python process, minus the JVM's JIT
    compiler threads: compiling is warm-up work whose tail would
    otherwise land in whichever op happens to follow it. The compiler
    thread count is fixed (see session_conf), so no compiler thread's
    CPU leaves the subtraction by the thread exiting."""
    t = os.times()
    return _ticks(f"/proc/{pid}/stat") / os.sysconf("SC_CLK_TCK") - jit_cpu_s(pid) + t.user + t.system


def total_cpu_s(pid: int) -> float:
    """Every CPU second the run has used so far: this Python process
    since it started, the driver JVM since it started (JIT compiler
    threads included) and the launcher the JVM was started by (reaped
    into the JVM's child times)."""
    t = os.times()
    return _ticks(f"/proc/{pid}/stat", children=True) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def loaded_classes(spark) -> int:
    """Classes the driver JVM has loaded since it started."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getClassLoadingMXBean().getTotalLoadedClassCount()


def event_log_cpu_s(spark) -> float:
    """CPU seconds so far of the listener thread that writes Spark's
    event log (a traced run's only extra work)."""
    jvm = spark.sparkContext._jvm
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet():
        if t.getName() == "spark-listener-group-eventLog":
            return jvm.java.lang.management.ManagementFactory.getThreadMXBean() \
                .getThreadCpuTime(t.getId()) / 1e9
    raise RuntimeError("no event log listener thread")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def count_files(path: str) -> int:
    """Data files under a written output directory."""
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def run_ops(ctx: Ctx, op, verify, t0: float) -> dict:
    """Closed loop, one client. Run WARM_OPS warm-up ops, then ops until
    ``ctx.seconds`` of op wall time and at least MIN_OPS ops are
    measured, recording each op's wall and CPU seconds. ``op(i)``
    returns its own wall seconds; ``verify()`` checks the output the op
    just wrote, outside the timed region, and raises if it is wrong,
    which fails the op.

    ``setup_cpu_s`` is the CPU time of everything before the measured
    phase (interpreter and JVM start, input generation, whatever the
    workload does before calling this, and the warm-up ops): CPU, not
    wall time, because on a shared host the wall time of the same
    set-up doubled with host load. Its wall time goes into the run
    record."""
    pid = jvm_pid(ctx.spark)
    warm: list[float] = []
    warm_cpu: list[float] = []
    for i in range(WARM_OPS):
        c = cpu_s(pid)
        warm.append(op(i))
        warm_cpu.append(cpu_s(pid) - c)
    setup_cpu_s = total_cpu_s(pid)
    ctx.layers["setup_wall_s"] = ctx.layers["session.get_spark_s"] + (time.perf_counter() - t0)
    ctx.layers["warmup.ops"] = len(warm)
    ctx.layers["warmup.op_s"] = warm
    ctx.layers["warmup.op_cpu_s"] = warm_cpu
    op_s: list[float] = []
    op_cpu_s: list[float] = []
    check_s: list[float] = []
    failed = 0
    jit_s: list[float] = []
    classes: list[int] = []
    ev = event_log_cpu_s(ctx.spark) if ctx.trace else 0.0
    while len(op_s) < MIN_OPS or sum(op_s) < ctx.seconds:
        c, j, n = cpu_s(pid), jit_cpu_s(pid), loaded_classes(ctx.spark)
        op_s.append(op(len(warm) + len(op_s)))
        op_cpu_s.append(cpu_s(pid) - c)
        jit_s.append(jit_cpu_s(pid) - j)
        classes.append(loaded_classes(ctx.spark) - n)
        p = time.perf_counter()
        try:
            verify()
            ok = True
        except Exception:  # a mismatch or an unreadable output fails the op
            traceback.print_exc()
            ok = False
        check_s.append(time.perf_counter() - p)
        failed += not ok
    ctx.layers["check_s"] = check_s
    if ctx.trace:
        ctx.layers["trace.event_log_cpu_s"] = event_log_cpu_s(ctx.spark) - ev
    return {"setup_cpu_s": setup_cpu_s, "warm_n": len(warm), "op_s": op_s, "op_cpu_s": op_cpu_s,
            "jit_cpu_s": jit_s, "classes_loaded": classes, "attempted": len(op_s), "failed": failed, "correct": failed == 0}
