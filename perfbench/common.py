"""Session, statistics and digest helpers shared by the workloads."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
SETUP_REPS = 3

now = time.perf_counter


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def trimmed_mean(xs) -> float:
    """Mean without the highest and the lowest value (from 5 values on)."""
    xs = sorted(xs)
    return float(statistics.fmean(xs[1:-1] if len(xs) >= 5 else xs))


@dataclass
class Context:
    """What a workload function gets, and what it fills in."""

    workload: str
    seed: int
    seconds: float
    cores: int
    cache: str
    work: str
    trace: bool
    event_log_dir: str | None = None
    spark: object = None
    tracer: object = None
    session_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    counts: dict = field(default_factory=lambda: defaultdict(float))
    loop_wall: tuple = (0.0, 0.0)
    samples: dict = field(default_factory=dict)  # raw samples, to stderr
    jit_threads: list = field(default_factory=list)  # /proc/<pid>/task/<tid>
    measuring: bool = False  # inside the measured loop
    refs: list = field(default_factory=list)  # yardstick (wall, CPU, JIT)
    n_timed: int = 0  # timed operations inside the measured loop
    yardstick_every: int = 1
    setup_wall: float = float("nan")
    phases: dict = field(default_factory=dict)  # phase -> perf_counter()

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a false check is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def find_jit_threads(self) -> None:
        """The driver JVM's JIT compiler threads (call once it is up)."""
        task = f"/proc/{jvm_pid()}/task"
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self.jit_threads.append(f"{task}/{tid}")

    def cpu_s(self) -> tuple:
        """(work, JIT) CPU seconds.  Work: this process and its descendants
        (the driver JVM, its Python workers) less the JVM's JIT compiler
        threads.  Spark keeps generating classes as it runs, and the JIT
        CPU inside one workload's measured loop varied by 8 s between runs
        while the executor threads' varied by 0.3 s; it is reported on its
        own."""
        jit = sum(_thread_cpu_s(t) for t in self.jit_threads)
        return tree_cpu_s(os.getpid()) - jit, jit

    @contextlib.contextmanager
    def timed(self, into: list):
        """Append (wall, work CPU, JIT CPU) seconds of the block to
        ``into``; inside the measured loop a yardstick run follows every
        ``yardstick_every``-th block, the first one included."""
        w0, (c0, j0) = now(), self.cpu_s()
        yield
        c1, j1 = self.cpu_s()
        into.append((now() - w0, c1 - c0, j1 - j0))
        if self.measuring:
            self.n_timed += 1
            if (self.n_timed - 1) % self.yardstick_every == 0:
                self.yardstick()

    @contextlib.contextmanager
    def measured_loop(self, yardstick_every: int):
        """The measured loop: spans are recorded and a yardstick run
        follows every ``yardstick_every``-th timed operation.  Yields the
        loop's start."""
        self.yardstick_every = yardstick_every
        for _ in range(YARDSTICK_WARM_UP):
            yardstick_job(self.spark, os.path.join(self.work, "yardstick"), self.cores)
        self.tracer.active = self.measuring = True
        t0 = self.phases["loop_start"] = now()
        try:
            yield t0
        finally:
            self.phases["loop_end"] = now()
            self.loop_wall = (t0, self.phases["loop_end"])
            self.tracer.active = self.measuring = False

    def yardstick(self) -> None:
        """Time one run of ``yardstick_job`` into ``refs``; check its answer."""
        w0, (c0, j0) = now(), self.cpu_s()
        with self.tracer.span("yardstick"):
            got = yardstick_job(self.spark, os.path.join(self.work, "yardstick"),
                                self.cores)
        c1, j1 = self.cpu_s()
        self.refs.append((now() - w0, c1 - c0, j1 - j0))
        self.check(got == YARDSTICK_ANSWER, f"yardstick job answered {got}")

    def record_loop(self, ops: list, reads: list, rows: int,
                    read_cpu: float) -> None:
        """End-to-end metrics from the ``timed`` samples of the loop's
        operations and reads: ``rows`` is the rows all ``ops`` processed,
        ``read_cpu`` the workload's raw read figure.

        Each is rescaled to the yardstick's nominal speed: CPU seconds by
        ``YARDSTICK_CPU_S`` over the loop's mean yardstick CPU, the set-up
        wall by ``YARDSTICK_WALL_S`` over its mean yardstick wall (means
        without the highest and lowest run).  The per-layer record gets
        the wall-clock figures and the yardstick's own cost, from which
        the raw CPU figures follow."""
        op_wall, op_cpu, op_jit = zip(*ops)
        read_wall, _read_cpu, read_jit = zip(*reads)
        ref_wall, ref_cpu, _ref_jit = zip(*self.refs)
        cpu_scale = YARDSTICK_CPU_S / trimmed_mean(ref_cpu)
        self.e2e.update(
            setup_s=self.setup_wall * YARDSTICK_WALL_S / trimmed_mean(ref_wall),
            rows_per_cpu_s=rows / (sum(op_cpu) * cpu_scale),
            op_cpu_p50_s=median(op_cpu) * cpu_scale,
            read_cpu_mean_s=read_cpu * cpu_scale,
        )
        self.layer.update({"wall.rows_per_s": rows / sum(op_wall),
                           "wall.op_p50_s": median(op_wall),
                           "wall.read_p50_s": median(read_wall),
                           "yardstick.wall_s": trimmed_mean(ref_wall),
                           "yardstick.cpu_s": trimmed_mean(ref_cpu),
                           "jvm.jit_cpu_s": sum(op_jit) + sum(read_jit)})
        self.samples.update(op=ops, read=reads, yardstick=self.refs)

    def setup_s(self, warm_up_s: float, rep_walls: list) -> None:
        """Set-up wall: session start + the one warm-up + the median
        repeated step (rescaled in ``record_loop``)."""
        self.phases["setup_done"] = now()
        self.samples.update(session_s=self.session_s, warm_up_s=warm_up_s,
                            setup_reps=rep_walls)
        self.setup_wall = self.session_s + warm_up_s + median(rep_walls)


# The yardstick: a fixed Spark job that runs none of the engine's code.
# Inside the measured loop one run follows every (tail_mor) or every
# third (doc_queries) timed operation, so it meets the same JVM, session
# and host load as the work around it.  The speed of a shared host
# drifts: the same tail_mor commit took 0.4 CPU-seconds in one hour and
# 0.9 in another.  Dividing by the yardstick's cost cancels that drift.
# The constants are its cost on a quiet 4-core host, so the rescaled
# figures read as seconds there.
YARDSTICK_ROWS = 20_000
YARDSTICK_ANSWER = (YARDSTICK_ROWS, 2783664794788750202)
YARDSTICK_WARM_UP = 5  # untimed runs before the loop
YARDSTICK_CPU_S = 0.26
YARDSTICK_WALL_S = 0.18


def yardstick_job(spark, path: str, n_cores: int) -> tuple:
    """Write YARDSTICK_ROWS generated rows to Parquet, read them back, and
    return (count, bit_xor of the rows' hashes)."""
    from pyspark.sql import functions as F

    (spark.range(0, YARDSTICK_ROWS, 1, n_cores)
     .select("id", F.sha2(F.col("id").cast("string"), 256).alias("h"))
     .write.mode("overwrite").parquet(path))
    r = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("h")).alias("x")
    ).collect()[0]
    return int(r["n"]), int(r["x"])


def ensure_inputs(workload: str, seed: int, cache: str, prefix: int | None = None,
                  bulk: bool = False):
    """Generate (or find) the seeded inputs in a child process."""
    cmd = [sys.executable, os.path.join(HERE, "inputs.py"),
           "--workload", workload, "--seed", str(seed), "--cache", cache]
    if prefix is not None:
        cmd += ["--prefix", str(prefix)]
    if bulk:
        cmd.append("--bulk")
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)


def session_conf(work: str, event_log_dir: str | None) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed set of JIT compiler threads, so their CPU can be left out
        # of the measured CPU (see Context.cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(n_cores: int, conf: dict):
    from icdc_dataloader_spark.session import get_spark

    spark = get_spark("perfbench", parallelism=n_cores,
                      shuffle_partitions=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_jvm() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_TCK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list:
    """Fields of /proc/<pid>/stat (or .../task/<tid>/stat) after the
    command name: [state, ppid, ...]; [11:13] is utime, stime and [13:15]
    cutime, cstime, in clock ticks."""
    with open(f"{path}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _thread_cpu_s(task: str) -> float:
    """CPU seconds of one thread, /proc/<pid>/task/<tid>, to the ns."""
    with open(f"{task}/schedstat") as fh:
        return int(fh.read().split()[0]) / 1e9


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and all its descendants, children
    already reaped included.  A live process is read from its CPU clock,
    to the ns (/proc/<pid>/stat counts 10 ms ticks); reaped children from
    their parent's cutime and cstime.  Unlike wall time it leaves out what
    the hypervisor steals from this VM."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = _stat(f"/proc/{d}")
        except OSError:  # exited while listed
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[13:15]))
    children = defaultdict(list)
    for pid, (ppid, _ticks) in procs.items():
        children[ppid].append(pid)
    total, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        try:
            # the CPU clock of process ``pid`` (clock_getcpuclockid)
            total += time.clock_gettime(((~pid) << 3) | 2) + procs[pid][1] / _TCK
        except OSError:  # exited since the listing
            continue
        stack.extend(children[pid])
    return total


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def state_digest(df) -> tuple:
    """The read side's full-state digest: count and
    bit_xor(xxhash64(content_sha256)).  bit_xor, not sum: under ANSI mode a
    sum of 64-bit hashes overflows and raises."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64("content_sha256")).alias("x")).collect()[0]
    return int(r["n"]), r["x"]


def parity_digest(df) -> dict:
    """Spark side of ``inputs.row_digest_py`` over live rows."""
    from pyspark.sql import functions as F

    h = F.sha2(F.concat_ws("\t", "repo", "path", "content_sha256"), 256)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.conv(F.substring(h, 1, 15), 16, 10).cast("long")).alias("x"),
    ).collect()[0]
    return {"count": int(r["n"]), "xor": int(r["x"] or 0)}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def link_tree(src: str, dst: str) -> None:
    """Copy a cached input tree by hard links (the cache stays pristine:
    the engine only reads these files)."""
    try:
        shutil.copytree(src, dst, copy_function=os.link)
    except OSError:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
