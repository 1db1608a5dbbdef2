"""Closed-loop benchmark of the spark-graft engine.

One client process drives ``local[nproc]`` and runs one workload's
registry entries back to back in timed passes. Each entry is built
with ``QUERIES[name](spark, sf_dir)`` and executed to a ``noop`` sink.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

A run generates its input tables from ``--seed`` inside a per-run
directory under the checkout, starts the session and collects every
entry once cold (together: ``setup_s``). It then runs the warm-up
passes while the DuckDB oracles run in a background thread, compares
the cold rows with the oracles, and times passes for ``--seconds``
seconds (at least ``MIN_PASSES``); every pass runs the entries in an
order drawn from the seed. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 1`` the timed passes alternate between plain and traced
passes, and the metrics are the per-layer ones. Progress goes to
stderr. Workloads, their entries and scales, and the layer each
per-layer metric should move are in ``workloads.json``.

``--smoke`` runs every workload in both modes at sf0.001 and checks
the printed metric names and units against ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3
WARMUP_PASSES = 2
SMOKE_SF = 0.001
MB = 1024 * 1024

END_TO_END = {
    "pass_s": "s",
    "query_geomean_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "driver.cpu_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "spark.core_busy_frac": "ratio",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "jvm.cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_disk_mb": "MB",
    "spark.stages_skipped": "count",
    "materialize.calls": "count",
    "materialize.eager_s": "s",
    "pyworker.cpu_s": "s",
    "pyworker.procs": "count",
    "disk.write_mb": "MB",
    "functions.dedup.s": "s",
    "functions.text.s": "s",
    "functions.vector.s": "s",
    "operators.mapreduce.s": "s",
    "operators.graph.s": "s",
    "sources.snapshots.s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
}
# per-pass totals read from the Spark status store: metric -> (field, scale)
STAGE_FIELDS = {
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_mb": ("inputBytes", 1 / MB),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "spark.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spark.spill_disk_mb": ("diskBytesSpilled", 1 / MB),
    "spark.failed_tasks": ("numFailedTasks", 1),
    "exec.tasks": ("numTasks", 1),
}


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["workloads"]


# ---------------------------------------------------------------- processes


class ProcTree:
    """CPU, RSS and disk writes of this process and its descendants
    (the Spark JVM and the Python workers it forks), read from /proc."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        self.page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            return None
        # the command name may hold spaces; fields resume after ')'
        return raw[raw.rindex(")") + 2 :].split()

    def members(self) -> dict[int, tuple[str, list[str]]]:
        """pid -> (role, stat fields) for every live process in the tree;
        role is ``driver``, ``jvm`` or ``pyworker``."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out = {self.root: ("driver", stats.get(self.root))}
        stack = [(c, "jvm") for c in children.get(self.root, [])]
        while stack:
            pid, role = stack.pop()
            if pid not in stats:
                continue
            out[pid] = (role, stats[pid])
            # everything the JVM forks is the Python worker daemon or a worker
            stack.extend((c, "pyworker") for c in children.get(pid, []))
        return {p: v for p, v in out.items() if v[1] is not None}

    def cpu_by_role(self) -> dict[str, float]:
        """CPU seconds (user + system, plus reaped children) per role."""
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for role, st in self.members().values():
            cpu[role] += sum(int(x) for x in st[11:15]) / self.tick
        return cpu

    def rss_bytes(self, members: dict) -> int:
        return sum(int(st[21]) * self.page for _, st in members.values())

    def write_bytes(self) -> int:
        total = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/io") as fh:
                    for line in fh:
                        if line.startswith("write_bytes:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        return total


class Sampler:
    """Background sampler of the tree's summed RSS and worker pids."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self.tree = tree
        self.interval = interval
        self.peak = 0
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            members = self.tree.members()
            self.peak = max(self.peak, self.tree.rss_bytes(members))
            self.workers.update(p for p, (r, _) in members.items() if r == "pyworker")
            self._stop.wait(self.interval)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------- spark layer


class StatusStore:
    """Stage and job records of the Spark status store.

    This is the only use of Spark's internal API in the benchmark. It
    reads the records created since the previous call, so it must run
    after every entry, before the store evicts old stages. If the
    internal API is unavailable every read returns ``None`` and the
    metrics built on it are left out."""

    def __init__(self, spark) -> None:
        self.ok = True
        try:
            jvm = spark.sparkContext._jvm
            self.store = spark.sparkContext._jsc.sc().statusStore()
            # PySpark cannot pass Scala default arguments: stageList's
            # first argument has no default, the other four do
            self.stage_defaults = [
                getattr(self.store, f"stageList$default${i}")() for i in range(2, 6)
            ]
            self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self.mapper.registerModule(
                jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
            )
            self.last_stage = self._head_id(self._stages(), "stageId")
            self.last_job = self._head_id(self.store.jobsList(None), "jobId")
        except Exception as ex:  # noqa: BLE001 - internal API is optional
            print(f"# status store unavailable: {ex}", file=sys.stderr)
            self.ok = False

    def _stages(self):
        return self.store.stageList(None, *self.stage_defaults)

    @staticmethod
    def _head_id(seq, field: str) -> int:
        # both lists are newest first
        return getattr(seq.head(), field)() if seq.nonEmpty() else -1

    def _new(self, seq, field: str, last: int) -> list[dict]:
        head = self._head_id(seq, field)
        if head <= last:
            return []
        # retried stage attempts share an id, so take a few extra rows
        rows = json.loads(self.mapper.writeValueAsString(seq.take(head - last + 16)))
        return [r for r in rows if r[field] > last]

    def read(self) -> dict | None:
        """Totals over the stages and jobs created since the last read."""
        if not self.ok:
            return None
        try:
            stages = self._new(self._stages(), "stageId", self.last_stage)
            jobs = self._new(self.store.jobsList(None), "jobId", self.last_job)
        except Exception as ex:  # noqa: BLE001 - internal API is optional
            print(f"# status store read failed: {ex}", file=sys.stderr)
            self.ok = False
            return None
        if stages:
            self.last_stage = max(r["stageId"] for r in stages)
        if jobs:
            self.last_job = max(r["jobId"] for r in jobs)
        ran = [r for r in stages if r["status"] != "SKIPPED"]
        out = {
            name: sum(r[field] for r in ran) * scale
            for name, (field, scale) in STAGE_FIELDS.items()
        }
        out["exec.jobs"] = len(jobs)
        out["exec.stages"] = len(ran)
        out["spark.stages_skipped"] = len(stages) - len(ran)
        return out


class Materialize:
    """Counts the engine's materializations while a traced pass runs:
    wraps PySpark's DataFrame ``localCheckpoint``, ``checkpoint``,
    ``persist`` and ``cache`` and times the calls (eager checkpoints
    run a job inside the call)."""

    METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")

    def __init__(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self.cls = DataFrame
        self.orig = {m: getattr(DataFrame, m) for m in self.METHODS}
        self.calls = 0
        self.seconds = 0.0
        self.depth = 0

    def _wrap(self, fn):
        def timed(df, *args, **kwargs):
            outer = self.depth == 0
            self.depth += 1
            t0 = time.perf_counter()
            try:
                return fn(df, *args, **kwargs)
            finally:
                self.depth -= 1
                if outer:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0

        return timed

    def __enter__(self) -> Materialize:
        self.calls, self.seconds = 0, 0.0
        for m, fn in self.orig.items():
            setattr(self.cls, m, self._wrap(fn))
        return self

    def __exit__(self, *exc) -> None:
        for m, fn in self.orig.items():
            setattr(self.cls, m, fn)


# ------------------------------------------------------------------ oracle


def oracle_rows(sql: str, sf_dir: str, tmp: str) -> tuple[list[str], list[tuple]]:
    """Run one DuckDB oracle over views of the run's input tables."""
    import duckdb

    from tools.verify_local import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute("SET memory_limit='4GB'")
        con.execute(f"SET temp_directory='{tmp}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def compare(cols: list[str], rows: list[tuple], duck_cols: list[str], duck_rows: list[tuple]) -> str | None:
    """Row count, column names and order-insensitive values, compared
    the way ``tools/verify_local.py`` does; returns a problem or ``None``."""
    from tools.verify_local import normalize_rows

    if sorted(cols) != sorted(duck_cols):
        return f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    if normalize_rows(rows, cols) != normalize_rows(duck_rows, duck_cols):
        return "values differ from oracle"
    return None


# --------------------------------------------------------------------- run


class Run:
    def __init__(self, args, workload: dict, run_dir: str) -> None:
        self.args = args
        self.sf = args.scale if args.scale is not None else workload["sf"]
        self.entries = workload["entries"]
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tree = ProcTree()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def note(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)
        self.note(f"FAILED {problem}")

    def execute(self, entry: str, traced: bool = False) -> tuple[float, float, dict | None] | None:
        """Build and run one entry to the noop sink; returns the build
        and total seconds and, when traced, the status-store totals of
        the build alone. Returns ``None`` if the entry raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.queries[entry](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            build = self.status.read() if traced else None
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - a failed entry is counted, not fatal
            self.fail(f"{entry}: {type(ex).__name__}: {str(ex)[:300]}")
            return None
        return t1 - t0, time.perf_counter() - t2 + t1 - t0, build

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM before a timed
        pass, so that what earlier passes left behind (and the shuffle
        files and checkpoint blocks Spark's cleaner frees with it) is
        released before the pass, not during it."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)

    def one_pass(self, traced: bool) -> dict:
        order = list(self.entries)
        self.rng.shuffle(order)
        cpu0 = self.tree.cpu_by_role()
        disk0 = self.tree.write_bytes() if traced else 0
        t0 = time.perf_counter()
        times: dict[str, float] = {}
        layers: dict[str, float] = {}

        def add(stats: dict | None) -> None:
            for k, v in (stats or {}).items():
                layers[k] = layers.get(k, 0.0) + v

        for entry in order:
            if traced:
                self.status.read()  # drop records made outside this entry
            got = self.execute(entry, traced)
            if got is None:
                continue
            build_s, times[entry], build = got
            if traced:
                add(build)
                add(self.status.read())
                if build is not None:
                    add({"registry.build_jobs": build["exec.jobs"]})
                add({"registry.build_s": build_s, self.entries[entry] + ".s": times[entry]})
        wall = time.perf_counter() - t0
        cpu1 = self.tree.cpu_by_role()
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        out = {"wall": wall, "times": times, "cpu": sum(cpu.values())}
        if traced:
            layers["driver.cpu_s"] = cpu["driver"]
            layers["jvm.cpu_s"] = cpu["jvm"]
            layers["pyworker.cpu_s"] = cpu["pyworker"]
            layers["disk.write_mb"] = (self.tree.write_bytes() - disk0) / MB
            if "spark.task_run_s" in layers:
                layers["spark.core_busy_frac"] = layers["spark.task_run_s"] / (
                    wall * self.cpus
                )
            out["layers"] = layers
        return out

    def start(self) -> float:
        """Input generation, session start and the cold pass; returns
        the set-up seconds."""
        sys.path.insert(0, HERE)
        import datagen

        t0 = time.perf_counter()
        self.sf_dir = datagen.write(
            os.path.join(self.run_dir, "data", f"sf{self.sf}"), self.args.seed, self.sf
        )
        t1 = time.perf_counter()
        from mapreducego_spark.registry import ORACLES, QUERIES
        from mapreducego_spark.session import get_spark

        self.queries = QUERIES
        self.oracles = ORACLES
        t2 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t2
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        # the cold execution of every entry collects its rows for the
        # oracle check; comparing them is not part of set-up
        self.cold_rows = {}
        for entry in self.entries:
            t = time.perf_counter()
            self.attempted += 1
            try:
                df = self.queries[entry](self.spark, self.sf_dir)
                self.cold_rows[entry] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as ex:  # noqa: BLE001 - a failed entry is counted, not fatal
                self.fail(f"{entry}: {type(ex).__name__}: {str(ex)[:300]}")
            self.note(f"cold {entry} {time.perf_counter() - t:.3f}s")
        setup = time.perf_counter() - t0
        self.note(
            f"setup {setup:.3f}s (inputs {t1 - t0:.3f}s, session {self.session_s:.3f}s)"
        )
        return setup

    def check(self, warmups: int) -> None:
        """Compare every entry's cold rows with its DuckDB oracle. The
        oracles run in a background thread while the ``warmups``
        passes run."""
        with ThreadPoolExecutor(1) as pool:
            duck = {
                e: pool.submit(oracle_rows, self.oracles[e], self.sf_dir, self.run_dir)
                for e in self.cold_rows
                if e in self.oracles
            }
            for _ in range(warmups):
                self.note(f"warm-up {self.one_pass(traced=False)['wall']:.3f}s")
            t0 = time.perf_counter()
            for entry, (cols, rows) in self.cold_rows.items():
                if entry not in duck:
                    self.fail(f"{entry}: no oracle")
                    continue
                try:
                    problem = compare(cols, rows, *duck[entry].result())
                except Exception as ex:  # noqa: BLE001 - counted as a failed check
                    problem = f"oracle raised {type(ex).__name__}: {ex}"
                if problem:
                    self.fail(f"{entry}: {problem}")
        self.note(f"oracle check {time.perf_counter() - t0:.3f}s after the warm-up")

    def timed(self, trace: bool) -> tuple[list[dict], list[dict], Sampler]:
        """Passes for ``--seconds`` (at least MIN_PASSES of each kind);
        in a traced run plain and traced passes alternate."""
        plain: list[dict] = []
        traced: list[dict] = []
        deadline = time.perf_counter() + self.args.seconds
        with Sampler(self.tree) as sampler:
            while (
                time.perf_counter() < deadline
                or len(plain) < self.min_passes
                or (trace and len(traced) < self.min_passes)
            ):
                is_traced = trace and len(traced) < len(plain)
                self.settle()
                if is_traced:
                    with Materialize() as mat:
                        p = self.one_pass(traced=True)
                    p["layers"]["materialize.calls"] = mat.calls
                    p["layers"]["materialize.eager_s"] = mat.seconds
                    traced.append(p)
                else:
                    plain.append(self.one_pass(traced=False))
                last = (traced if is_traced else plain)[-1]
                self.note(
                    f"pass {'traced' if is_traced else 'plain'} {last['wall']:.3f}s "
                    + " ".join(f"{k}={v:.3f}" for k, v in last["times"].items())
                )
        return plain, traced, sampler

    def main(self) -> dict:
        smoke = self.args.scale is not None
        self.min_passes = 1 if smoke else MIN_PASSES
        setup = self.start()
        self.check(0 if smoke else WARMUP_PASSES)
        if self.args.trace:
            self.status = StatusStore(self.spark)
        plain, traced, sampler = self.timed(bool(self.args.trace))
        pass_s = statistics.median(p["wall"] for p in plain)
        if self.args.trace:
            metrics = self.layer_metrics(traced, pass_s, sampler)
        else:
            per_entry = []
            for e in self.entries:
                times = [p["times"][e] for p in plain if e in p["times"]]
                if times:
                    per_entry.append(statistics.median(times))
                    self.note(f"entry {e} {per_entry[-1]:.3f}s")
            metrics = {
                "pass_s": pass_s,
                "query_geomean_s": math.exp(
                    statistics.fmean(math.log(t) for t in per_entry)
                ),
                "cpu_s": statistics.median(p["cpu"] for p in plain),
                "peak_rss_mb": sampler.peak / MB,
                "setup_s": setup,
                "ok_ratio": (self.attempted - self.failed) / self.attempted,
            }
        units = PER_LAYER if self.args.trace else END_TO_END
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }

    def layer_metrics(self, traced: list[dict], pass_s: float, sampler) -> dict:
        names = set().union(*(p["layers"] for p in traced))
        out = {
            k: statistics.median(p["layers"].get(k, 0.0) for p in traced)
            for k in names
        }
        for k in PER_LAYER:
            if k.endswith(".s") and k not in out:
                out[k] = 0.0  # no entry of this workload lives in that module
        out["session.start_s"] = self.session_s
        out["pyworker.procs"] = len(sampler.workers)
        out["trace.overhead_frac"] = (
            statistics.median(p["wall"] for p in traced) / pass_s - 1
        )
        return {k: out[k] for k in PER_LAYER if k in out}


# --------------------------------------------------------------- isolation


def isolate(run_dir: str) -> None:
    """Point every scratch location of the engine, Spark, the JVM and
    Python at ``run_dir``, and fix the session's size for this host.
    Must run before pyspark or the engine is imported."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_mb = min(1536, mem_kb // 1024 // 4)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {driver_mb}m --driver-java-options"
            f" '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    print(
        "# env " + " ".join(f"{k}={env[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")),
        file=sys.stderr,
    )


def stop_spark(tree: ProcTree) -> None:
    """Stop the session and its JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    pids = [p for p in tree.members() if p != tree.root]
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def run_workload(args) -> int:
    workloads = load_workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import mapreducego_spark  # noqa: F401 - the engine must be in the checkout
        import tools.verify_local  # noqa: F401
    except ImportError as ex:
        print(f"engine not found next to the benchmark: {ex}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    # on SIGTERM, unwind through the clean-up below instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    isolate(run_dir)
    cwd = os.getcwd()
    os.chdir(run_dir)
    run = Run(args, workloads[args.workload], run_dir)
    try:
        result = run.main()
    finally:
        stop_spark(run.tree)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


def smoke() -> int:
    """Every workload once at sf0.001 in both modes; the printed metric
    names and units must match BENCHMARK.json and every check pass."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", w,
                "--seed", "1", "--seconds", "1", "--trace", str(trace),
                "--scale", str(SMOKE_SF),
            ]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                bad.append(f"{w} trace={trace}: exit {proc.returncode}, no result line")
                continue
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                bad.append(f"{w} trace={trace}: metrics {got} != {want[trace]}")
            if not result["correct"]:
                bad.append(f"{w} trace={trace}: incorrect output")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={result['correct']}")
    for b in bad:
        print(f"SMOKE FAIL {b}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=None,
        help="override the workload's scale factor; also drops warm-up passes",
    )
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
