"""Measurement plumbing shared by the three workloads.

Everything here measures the program from outside: process-tree CPU
read from ``/proc``, machine steal from ``/proc/stat``, JVM GC time from
the JVM's MXBeans, per-job-group stage metrics from Spark's status
store, and spans the benchmark records around its own calls into the
program's layers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", "_work")
CLK_TCK = os.sysconf("SC_CLK_TCK")
T_START = time.perf_counter()


def phase(log: dict, name: str) -> None:
    """Record in the run log when a phase of the run ended (seconds since
    the benchmark started)."""
    log.setdefault("phases", {})[name] = round(time.perf_counter() - T_START, 1)


#: JVM heap for the single local Spark JVM. The session factory's own
#: default (48g) does not fit a small shared box; 3g holds every
#: workload here with room to spare.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict:
    """Pin every machine-dependent setting before Spark starts and return
    the pinned values for the run log. Scratch space, JVM temp files and
    the Spark warehouse all live under ``work`` inside the checkout."""
    cpus = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Spark's Python workers import the package (the rss DataSource,
        # engine UDFs); they do not inherit the driver's sys.path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"nproc": cpus, "driver_memory": DRIVER_MEMORY}


def start_spark(work: str):
    """Start the engine's session with the pinned settings. Returns
    (spark, seconds taken)."""
    from newsmaper_etl_spark.session import get_spark

    java_opts = (
        "-Dsun.net.inetaddr.ttl=-1 -Dsun.net.inetaddr.negative.ttl=-1 "
        "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse-sql"),
            # keep every job of a run in the status store for the
            # traced split (the defaults evict after 1000)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker it
    started have exited."""
    tree = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def _read_stats() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, user+system+reaped-children ticks, command name) for
    every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, _, tail = f.read().rpartition(")")
        except (FileNotFoundError, ProcessLookupError):
            continue
        fields = tail.split()
        # fields[0] is state; utime=11, stime=12, cutime=13, cstime=14
        out[int(name)] = (
            int(fields[1]),
            int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14]),
            head.split("(", 1)[1],
        )
    return out


def _proc_tree(root: int, stats: dict | None = None) -> list[int]:
    stats = stats if stats is not None else _read_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, ()))
    return tree


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads. Compilation is JVM
    warm-up whose timing varies from run to run, not work the program
    asked for, so it is left out of the measured CPU (the compiler thread
    count is pinned, so no compiler thread exits and takes its time out
    of this sum)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, _, tail = f.read().rpartition(")")
        except (FileNotFoundError, ProcessLookupError):
            continue
        if head.split("(", 1)[1].startswith(("C1 Compiler", "C2 Compiler")):
            fields = tail.split()
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the Spark JVM and every
    Python worker under it, without the JVM's JIT compiler threads. Each
    live process counts its own time plus the time of children it has
    reaped, so a worker that exits between two readings is still counted
    once."""
    stats = _read_stats()
    ticks = 0
    for p in _proc_tree(os.getpid(), stats):
        if p in stats:
            ticks += stats[p][1]
            if stats[p][2] == "java":
                ticks -= _jit_ticks(p)
    return ticks / CLK_TCK


def steal_s() -> float:
    """Machine-wide CPU steal so far, in seconds (all CPUs summed)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the JVM (driver and executors share it in
    local mode)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Meter:
    """Wall and process-tree CPU seconds over one region of code."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = tree_cpu_s()

    def stop(self) -> tuple[float, float]:
        return time.perf_counter() - self.t0, tree_cpu_s() - self.c0


class Setup:
    """Set-up cost, wall and CPU: the session start, the median of the
    repeated workload set-ups, and the warm-up."""

    def __init__(self, session: tuple[float, float]):
        self.wall, self.cpu = session

    def add(self, wc: tuple[float, float]) -> None:
        self.wall += wc[0]
        self.cpu += wc[1]

    def add_median(self, repeats: list[tuple[float, float]]) -> None:
        self.add((median([w for w, _ in repeats]), median([c for _, c in repeats])))


class Ops:
    """Wall and CPU of every measured operation of a run, by kind, and the
    end-to-end metrics built from them. Gated metrics are CPU time: on a
    host whose neighbours steal CPU, the wall time of identical runs
    spread up to 0.64 (quartile distance over median) where their CPU
    time spread at most 0.20. Wall figures go to the run log.

    A run attempts whole rounds until its measured time is used up, but
    every reported figure comes from the first round only: later rounds
    run warmer and cheaper, so a figure that mixed in a varying number of
    them would move with the round count, not with the program."""

    def __init__(self):
        self.cycles: list[tuple[float, float]] = []
        self.articles = 0
        self.reads: list[tuple[float, float]] = []
        self.maints: list[tuple[float, float, int]] = []
        self.rounds: list[tuple[float, float]] = []
        self.queries: list[tuple[float, float]] = []
        self.first: tuple[int, int, int, int] | None = None

    @property
    def attempted(self) -> int:
        return len(self.cycles) + len(self.reads) + len(self.maints) + len(self.queries)

    def cycle(self, wc: tuple[float, float], articles: int) -> None:
        self.cycles.append(wc)
        self.articles += articles

    def maint(self, wc: tuple[float, float], rows: int) -> None:
        self.maints.append((wc[0], wc[1], rows))

    def round(self, parts: list[tuple[float, float]]) -> None:
        self.rounds.append((sum(w for w, _ in parts), sum(c for _, c in parts)))
        if self.first is None:
            self.first = (len(self.cycles), len(self.reads), len(self.maints), self.articles)

    def _first_round(self):
        """(cycles, reads, maintenance runs, articles) of the first round."""
        nc, nr, nm, articles = self.first
        return self.cycles[:nc], self.reads[:nr], self.maints[:nm], articles

    def end_to_end(self, setup: Setup) -> dict:
        cycles, _, _, articles = self._first_round()
        return {
            "setup_s": (setup.cpu, "s"),
            "cpu_ms_per_article": (
                1000.0 * sum(c for _, c in cycles) / articles, "ms/article"),
            "pass_cpu_s": (self.rounds[0][1], "s"),
        }

    def summary(self) -> dict:
        """Counts, the CPU figures of single operations (one or four
        samples a run: too few to gate), and the wall-time figures of the
        first round, for the run log."""
        cycles, reads, maints, articles = self._first_round()
        wall = [w for w, _ in cycles]
        return {
            "attempted": self.attempted, "cycles": len(self.cycles),
            "rounds": len(self.rounds),
            "read_cpu_s": round(median([c for _, c in reads]), 3),
            "maint_cpu_us_per_row": round(
                1e6 * sum(c for _, c, _ in maints) / sum(r for _, _, r in maints), 1),
            "cycle_p50_s": round(median(wall), 3),
            "articles_per_s": round(articles / sum(wall), 1),
            "read_p50_s": round(median([w for w, _ in reads]), 3),
            "maint_rows_per_s": round(
                sum(r for _, _, r in maints) / sum(w for w, _, _ in maints), 1),
            "pass_s": round(self.rounds[0][0], 3),
            "cycle_s": [round(w, 3) for w in wall],
        }


class Tracer:
    """Spans around the benchmark's calls into program layers, kept in
    memory and written out when the run ends. With ``on=False`` every
    method is a cheap no-op, so the untraced run pays nothing."""

    def __init__(self, spark, on: bool):
        self.on = on
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.trace_id = 0
        self.t_base = time.perf_counter()
        self.timed_from = 0

    def new_trace(self) -> None:
        self.trace_id += 1

    def start_timing(self) -> None:
        """Spans recorded from here on are the measured ones; earlier
        spans (set-up, warm-up) stay in the written trace only."""
        self.timed_from = len(self.spans)

    def timed(self, name: str) -> list[dict]:
        return [s for s in self.spans[self.timed_from:] if s["name"] == name]

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        group = f"{name}#{sid}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "trace": self.trace_id,
            "group": group,
            "start": time.perf_counter() - self.t_base,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t_base
            self.stack.pop()
            if self.stack:
                parent = self.spans[self.stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"], interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def stage_totals(self, span: dict, groups: dict) -> dict:
        """Stage metrics of the jobs run under ``span`` and its
        descendants (each span tags its jobs with its own group)."""
        ids, tot = {span["id"]}, dict(EMPTY_GROUP)
        for s in self.spans[span["id"]:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k, v in groups.get(s["group"], EMPTY_GROUP).items():
                    tot[k] += v
        return tot

    def write(self, path: str, stage_metrics: dict, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "job_groups": stage_metrics, **extra}, f)


#: StageData accessor -> metric key
_STAGE_FIELDS = {
    "executorRunTime": "executor_run_s",
    "executorCpuTime": "executor_cpu_s",
    "jvmGcTime": "gc_s",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
}


def _store(spark):
    sc = spark.sparkContext
    return sc._jsc.sc().statusStore(), sc._jvm.scala.jdk.javaapi.CollectionConverters


def job_ids(spark) -> set[int]:
    """Ids of every job the status store holds."""
    store, conv = _store(spark)
    return {int(j.jobId()) for j in conv.asJava(store.jobsList(None))}


def jobs_cpu_s(spark, ids: set[int]) -> float:
    """Executor CPU seconds of the non-skipped stages of jobs ``ids``."""
    store, conv = _store(spark)
    total = 0
    for j in conv.asJava(store.jobsList(None)):
        if int(j.jobId()) not in ids:
            continue
        for sid in conv.asJava(j.stageIds()):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            total += st.executorCpuTime()
    return total / 1e9


def files_scanned(df) -> int:
    """Files the program's plan for ``df`` reads: the file listing each
    file-source scan selects after partition pruning, taken from the
    physical plan Spark built for the frame."""
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    n, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind == "FileSourceScanExec":
            n += int(node.selectedPartitions().totalNumberOfFiles())
        else:
            todo.extend(conv.asJava(node.children()))
    return n


def stage_metrics_by_group(spark) -> dict[str, dict]:
    """Executor run/CPU time, GC, shuffle, input, output and spill summed
    per job group, read from the status store (works with the UI off).
    Jobs without a group are reported under ``""``."""
    store, conv = _store(spark)
    jobs = conv.asJava(store.jobsList(None))
    out: dict[str, dict] = {}
    for job in jobs:
        g = job.jobGroup()
        group = g.get() if g.isDefined() else ""
        agg = out.setdefault(group, dict(EMPTY_GROUP))
        agg["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            agg["stages"] += 1
            for acc, key in _STAGE_FIELDS.items():
                agg[key] += float(getattr(st, acc)())
    for agg in out.values():
        for key in ("executor_run_s", "gc_s"):
            agg[key] /= 1000.0  # ms
        agg["executor_cpu_s"] /= 1e9  # ns
    return out


#: stage metrics of a span that ran no Spark job
EMPTY_GROUP = {"jobs": 0, "stages": 0, **{v: 0.0 for v in _STAGE_FIELDS.values()}}


def zero_layer_metrics() -> dict:
    """Every per-layer metric BENCHMARK.json declares, at 0: the value
    for a layer the workload does not call."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: (0.0, m["unit"]) for m in spec["per_layer"]}


def median(xs) -> float:
    return float(statistics.median(xs))


def new_workdir(workload: str) -> str:
    path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, bytes) of data files under ``path``."""
    n = b = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, f))
    return n, b


def emit(correct: bool, attempted: int, failed: int, metrics: dict, log: dict) -> None:
    """Print the run log to stderr and the result as the last stdout line."""
    print(json.dumps({"run_log": log}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
