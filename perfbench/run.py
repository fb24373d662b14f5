#!/usr/bin/env python3
"""Benchmark harness: one workload, one seed, one process, cold and warm passes.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 35 --trace 0

A run generates the workload's inputs from the seed (``perfbench/gen.py``,
DuckDB only), starts one ``local[nproc/2]`` session through the engine's own
``session.get_spark(sf_dir=...)``, loads the tables, and times the workload's
query list in that session, a fixed number of times:

- the *cold* pass is what a batch job pays: codegen, Python-worker spin-up and
  per-dataset artifact builds;
- ``WARM_PASSES`` *warm* passes repeat the list in the same session; the
  warm figures take each query's best warm run.

The work is fixed, so that runs on any host measure the same thing;
``--seconds`` is the measuring time it is sized for (cold plus warm passes on
a 4-vCPU host), and a run that takes longer says so on stderr.

Each query is timed as the builder call ``queries()[name](spark, dir)`` plus
the ``noop`` write that executes it, in wall time and in CPU seconds of the
whole process tree. The end-to-end times are scaled to a reference host's
speed by a fixed probe timed before the JVM starts and after it has exited
(``HostProbe``). After the timed passes, every query is
checked against its ``oracle_sql()`` twin on the same inputs (oracle-less ML
rows must return rows). The last stdout line is the result JSON; with
``--trace 1`` the session writes Spark's event log and the result carries the
per-layer metrics parsed from it instead of the end-to-end ones. A detailed
record (host, per-query times, check results) goes to
``perfbench/.work/results/``.

Exit codes: 0 on a completed run (``correct`` says whether every output
matched), 2 when the engine is not importable from the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
T0 = time.perf_counter()
# Warm passes per run, always all of them: JIT compilation keeps speeding up
# warm passes for several passes, so a fixed count keeps runs comparable.
WARM_PASSES = 4

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import eventlog  # noqa: E402
import gen  # noqa: E402
from workloads import GROUPS, WORKLOADS, group_of_queries, query_list  # noqa: E402


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:  # first line: MemTotal: <kB> kB
        return int(f.readline().split()[1]) / 2**20


def _host() -> dict:
    """Facts that explain a contended or differently sized run."""
    src = hashlib.sha256()
    for p in sorted([ROOT / "__spark_entry__.py", *(ROOT / "duckdb_ml_spark").rglob("*.py")]):
        src.update(p.read_bytes())
    head = "unknown"
    try:
        ref = (ROOT / ".git" / "HEAD").read_text().strip()
        head = (
            (ROOT / ".git" / ref[5:]).read_text().strip()
            if ref.startswith("ref: ")
            else ref
        )
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(_mem_gb(), 1),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "git_head": head,
        "source_sha256": src.hexdigest()[:16],
    }


def _task_slots() -> int:
    """Spark task slots: half the CPUs. The rest run what a session needs
    beside its tasks (JIT and GC threads, Python workers, the driver), so a
    vCPU that other guests of a shared host take slows one task instead of
    every stage that waits for its slowest task."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _configure_env(trace_dir: Path | None) -> None:
    """Size the session to this host and keep every file inside WORK.

    Must run before pyspark launches the JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_task_slots())
    # well below host RAM: the engine's 32g default assumes a large rig
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(_mem_gb() // 4)))}g"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp}"']
    if trace_dir is not None:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            # zstd, the default codec, needs a package the host lacks
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of `root` and
    every process below it: the driver, the JVM and the Python workers."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while scanning
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


# Fixed single-threaded interpreter and memory work, timed in a child
# process (so it adds nothing to the driver's RSS) each time the parent
# writes a line; one untimed round first, so every timed round is warm.
PROBE = """
import sys, time
import numpy as np
a = np.arange(1 << 19, dtype=np.float64)
def work():
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    b = a
    for _ in range(150):
        b = b * 1.0000001 + 1.0
work()
for _ in sys.stdin:
    t0 = time.perf_counter()
    work()
    print(time.perf_counter() - t0, flush=True)
"""
# The probe's median seconds on the host the figures are scaled to: a quiet
# 4-vCPU Xeon VM.
PROBE_REF_S = 0.19
PROBE_ROUNDS = 3


class HostProbe:
    """Times the fixed PROBE work PROBE_ROUNDS times before the JVM starts
    and again after it has exited, so the engine's own background threads
    never slow it. The median over PROBE_REF_S is how much slower than the
    reference host this run's host was: shared hosts drift by tens of
    percent over minutes."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, "-c", PROBE], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True,
        )
        self.times: list[float] = []

    def sample(self) -> None:
        for _ in range(PROBE_ROUNDS):
            self.proc.stdin.write("\n")
            self.proc.stdin.flush()
            self.times.append(float(self.proc.stdout.readline()))

    def slowdown(self) -> float:
        return statistics.median(self.times) / PROBE_REF_S

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=30)


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


class Run:
    """One process-lifetime benchmark run: session, passes, check, teardown."""

    def __init__(self, names: list[str], data_dir: str):
        self.names = names
        self.data_dir = data_dir
        self.timings: dict[str, dict[str, dict]] = {}  # pass -> query -> record
        self.errors: dict[str, str] = {}
        self.frames: dict = {}  # query -> DataFrame of its latest timed run
        self.check_s: dict[str, float] = {}
        self.loadavg: dict[str, list[float]] = {}
        self.steal: dict[str, float] = {}  # pass -> share of host CPU stolen
        self.launch_s = 0.0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> dict:
        """Import the engine, start its session and load the tables, timing
        each step; the JVM launch is timed by wrapping pyspark's launcher.

        Done once: a second set-up in this process would reuse the warm JVM,
        and one in a fresh process costs as much as the first."""
        t0 = time.perf_counter()
        import pyspark.context

        launch = pyspark.context.launch_gateway

        def timed_launch(*a, **k):
            t = time.perf_counter()
            try:
                return launch(*a, **k)
            finally:
                self.launch_s += time.perf_counter() - t

        pyspark.context.launch_gateway = timed_launch
        import __spark_entry__  # noqa: F401  (import cost is part of set-up)
        from duckdb_ml_spark import tables
        from duckdb_ml_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", sf_dir=self.data_dir)
        t2 = time.perf_counter()
        for name in tables.TABLE_NAMES:
            tables.load(self.spark, self.data_dir, name)
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return {
            "import_s": t1 - t0,
            "launch_s": self.launch_s,
            "get_spark_s": t2 - t1 - self.launch_s,
            "load_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    # -- timed passes -----------------------------------------------------
    def _run_query(self, tag: str, name: str, builder) -> dict:
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{tag}:{name}")
        rec = {"start": time.time()}
        c0 = _tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            df = builder(self.spark, self.data_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1)
            self.frames[name] = df
        except Exception as e:  # a failing query is counted, not fatal
            self.errors.setdefault(name, f"{tag}: {type(e).__name__}: {str(e)[:300]}")
            rec.update(build_s=time.perf_counter() - t0, action_s=0.0)
        finally:
            sc.setJobDescription(None)
        rec["end"] = time.time()
        rec["s"] = rec["build_s"] + rec["action_s"]
        rec["cpu_s"] = _tree_cpu_s(os.getpid()) - c0
        return rec

    def passes(self, seconds: float) -> None:
        import __spark_entry__ as entry

        qs = entry.queries()
        missing = [n for n in self.names if n not in qs]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        t_begin = time.perf_counter()
        for n in range(1 + WARM_PASSES):
            tag = "cold" if n == 0 else f"warm{n}"
            self.loadavg[f"{tag}.before"] = _loadavg()
            c0 = _cpu_ticks()
            self.timings[tag] = {q: self._run_query(tag, q, qs[q]) for q in self.names}
            d = [b - a for a, b in zip(c0, _cpu_ticks())]
            self.steal[tag] = d[7] / max(1, sum(d))
            self.loadavg[f"{tag}.after"] = _loadavg()
        took = time.perf_counter() - t_begin
        if took > seconds:
            _log(f"passes took {took:.1f}s, more than --seconds {seconds:g}")

    def peak_rss_mb(self) -> tuple[float, float]:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            hwm = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        return py, hwm / 1024

    # -- output check -----------------------------------------------------
    def check(self) -> dict[str, bool]:
        import __spark_entry__ as entry
        from duckdb_ml_spark.testing import compare_to_oracle, duckdb_connection

        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb_connection(self.data_dir)
        sc = self.spark.sparkContext
        ok = {}
        try:
            for name in self.names:
                sc.setJobDescription(f"check:{name}")
                t0 = time.perf_counter()
                try:
                    # the DataFrame the timed passes executed; rebuilding would
                    # repeat build-time work such as training
                    df = self.frames.get(name)
                    if df is None:
                        df = qs[name](self.spark, self.data_dir)
                    if name in oracles:
                        rep = compare_to_oracle(df, oracles[name], con, name=name)
                        ok[name] = bool(rep["match"])
                        if not ok[name]:
                            self.errors.setdefault(name, f"check: {rep}")
                    else:  # oracle-less ML rows: structural check only
                        ok[name] = df.count() > 0
                        if not ok[name]:
                            self.errors.setdefault(name, "check: no rows")
                except Exception as e:
                    ok[name] = False
                    self.errors.setdefault(name, f"check: {type(e).__name__}: {str(e)[:300]}")
                finally:
                    sc.setJobDescription(None)
                    self.check_s[name] = time.perf_counter() - t0
        finally:
            con.close()
        return ok

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# -- metrics ------------------------------------------------------------------


def _warm_tags(run: Run) -> list[str]:
    return [t for t in run.timings if t != "cold"]


def _query_seconds(run: Run, key: str) -> tuple[list[float], list[float]]:
    """Per query: the cold run's value of `key`, and its best warm value."""
    warms = _warm_tags(run)
    cold = [run.timings["cold"][q][key] for q in run.names]
    warm = [min(run.timings[w][q][key] for w in warms) for q in run.names]
    return cold, warm


def wall_figures(run: Run) -> dict[str, float]:
    """Wall-clock pass figures; warm ones take each query's best warm pass."""
    cold, warm = _query_seconds(run, "s")
    return {
        "cold_pass_s": sum(cold),
        "warm_pass_s": sum(warm),
        "cold_geomean_s": _geomean(cold),
        "warm_geomean_s": _geomean(warm),
    }


def cpu_figures(run: Run) -> dict[str, float]:
    """CPU seconds of the process tree per pass, the same way. Cycles stolen
    by other guests of a shared VM stretch wall time but are not charged
    here, so these tell a contended run from a slower program."""
    cold, warm = _query_seconds(run, "cpu_s")
    return {"proc.cpu_s.cold": sum(cold), "proc.cpu_s.warm": sum(warm)}


def end_to_end(run: Run, setup: dict, rss: tuple[float, float], probe: HostProbe) -> dict:
    """Times are wall seconds scaled to the reference host's speed."""
    slow = probe.slowdown()
    out = {k: (v / slow, "s") for k, v in wall_figures(run).items()}
    out["setup_s"] = (setup["setup_s"] / slow, "s")
    out["driver_py_peak_rss_mb"] = (rss[0], "MB")
    return out


def per_layer(
    run: Run,
    setup: dict,
    rss: tuple[float, float],
    groups: dict[str, str],
    tags: dict,
    probe: HostProbe,
) -> dict:
    """Per-layer metrics of a traced run (see BENCHMARK.json for the list).

    `tags` is eventlog stats keyed by "<pass>:<query>"."""
    out = {
        "session.launch_s": (setup["launch_s"], "s"),
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "tables.load_s": (setup["load_s"], "s"),
        "mem.jvm_peak_rss_mb": (rss[1], "MB"),
        "host.probe_s": (statistics.median(probe.times), "s"),
    }

    def pass_values(p: str) -> dict:
        recs = run.timings[p]
        v = {
            "driver.build_s": sum(r["build_s"] for r in recs.values()),
            "spark.action_s": sum(r["action_s"] for r in recs.values()),
        }
        # every traced run prints every group's metrics (the other
        # workload's read 0); `other` only collects unmapped --queries names
        for g in GROUPS:
            if g == "other":
                continue
            v[f"mod.{g}.s"] = sum(r["s"] for q, r in recs.items() if groups.get(q) == g)
            v[f"mod.{g}.jobs"] = 0
            v[f"mod.{g}.offjob_s"] = 0.0
        tot = eventlog.new_stats()
        job_s = offjob_s = 0.0
        multi = 0
        for q, r in recs.items():
            st = tags.get(f"{p}:{q}", eventlog.new_stats())
            in_jobs = eventlog.union_seconds(
                (max(s, r["start"]), min(e, r["end"])) for s, e in st["intervals"]
            )
            job_s += in_jobs
            offjob_s += r["end"] - r["start"] - in_jobs
            multi += st["jobs"] >= 2
            g = groups.get(q, "other")
            if g != "other":
                v[f"mod.{g}.jobs"] += st["jobs"]
                v[f"mod.{g}.offjob_s"] += r["end"] - r["start"] - in_jobs
            tot["jobs"] += st["jobs"]
            tot["stages"] |= st["stages"]
            tot["tasks"] += st["tasks"]
            for k in eventlog.STAT_KEYS:
                tot[k] += st[k]
        v.update(
            {
                "sched.jobs": tot["jobs"],
                "sched.stages": len(tot["stages"]),
                "sched.tasks": tot["tasks"],
                "sched.multi_job_queries": multi,
                "sched.job_s": job_s,
                "driver.offjob_s": offjob_s,
                "exec.run_s": tot["run_s"],
                "exec.cpu_s": tot["cpu_s"],
                "exec.cpu_share": tot["cpu_s"] / tot["run_s"] if tot["run_s"] else 0.0,
                "exec.gc_s": tot["gc_s"],
                "exec.deser_s": tot["deser_s"],
                "scan.time_s": tot["scan_time_s"],
                "scan.mb": tot["scan_mb"],
                "agg.build_s": tot["agg_build_s"],
                "join.build_s": tot["join_build_s"],
                "sort.time_s": tot["sort_time_s"],
                "shuffle.write_mb": tot["shuffle_write_mb"],
                "shuffle.read_mb": tot["shuffle_read_mb"],
                "shuffle.fetch_wait_s": tot["fetch_wait_s"],
                "spill.mb": tot["spill_mb"],
                "py.start_s": tot["py_start_s"],
                "py.init_s": tot["py_init_s"],
                "py.run_s": tot["py_run_s"],
                "py.sent_mb": tot["py_sent_mb"],
                "py.returned_mb": tot["py_returned_mb"],
                "driver.result_mb": tot["result_mb"],
            }
        )
        return v

    cv = pass_values("cold")
    wvs = [pass_values(w) for w in _warm_tags(run)]
    wv = {k: statistics.median(w[k] for w in wvs) for k in wvs[0]}
    for k, val in cv.items():
        unit = _unit(k)
        if k.startswith("mod.") and not k.endswith(".s"):
            out[k] = (val, unit)  # module jobs and off-job time: cold pass only
        else:
            out[f"{k}.cold"] = (val, unit)
            out[f"{k}.warm"] = (wv[k], unit)
    out["driver.artifact_s"] = (cv["driver.build_s"] - wv["driver.build_s"], "s")
    wall = wall_figures(run)
    out["trace.cold_pass_s"] = (wall["cold_pass_s"], "s")
    out["trace.warm_pass_s"] = (wall["warm_pass_s"], "s")
    out.update((k, (v, "s")) for k, v in cpu_figures(run).items())
    return out


def _unit(key: str) -> str:
    if key.endswith("_mb") or key.endswith(".mb"):
        return "MB"
    if key.endswith("_s") or key.endswith(".s"):
        return "s"
    if key.endswith("share"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="duckdb_ml_spark benchmark (one workload)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--queries",
        default=None,
        help="'all' for the workload's whole partition, or a comma-separated list",
    )
    a = ap.parse_args(argv)

    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "duckdb_ml_spark").is_dir():
        print(f"perfbench: no engine under {ROOT} (__spark_entry__.py, duckdb_ml_spark/)",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)  # the engine writes its temporary files relative to the cwd

    wl = WORKLOADS[a.workload]
    names = query_list(a.workload, a.queries)
    # inputs are reused per (workload, seed); the engine sees a per-run
    # directory of hard links, so on-disk artifacts it keys by the input
    # directory's name never carry over from an earlier run. The generator
    # runs in a child process, so DuckDB's memory peak is not in the
    # driver's peak RSS whether or not the inputs were cached.
    inputs = str(WORK / "data" / f"{a.workload}-{gen.inputs_id(wl['sf'], wl['factor'], a.seed)}")
    subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--out", inputs, "--sf", str(wl["sf"]),
         "--factor", str(wl["factor"]), "--seed", str(a.seed)],
        check=True, stdout=subprocess.DEVNULL,
    )
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    data_dir = WORK / "run" / run_id
    shutil.rmtree(data_dir, ignore_errors=True)
    data_dir.mkdir(parents=True)
    for t in gen.TABLES:
        os.link(os.path.join(inputs, f"{t}.parquet"), data_dir / f"{t}.parquet")
    trace_dir = None
    if a.trace:
        trace_dir = WORK / "eventlog" / run_id
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
    _configure_env(trace_dir)

    run = Run(names, str(data_dir))
    _log(f"inputs ready: {inputs}")
    probe = HostProbe()
    try:
        probe.sample()
        setup = run.setup()
        _log("set-up done")
        run.passes(a.seconds)
        _log(f"{len(run.timings)} passes done")
        rss = run.peak_rss_mb()
        ok = run.check()
        _log("output check done")
        app_id = run.spark.sparkContext.applicationId
    finally:
        try:
            if hasattr(run, "spark"):
                run.stop()
            _log("session stopped")
            probe.sample()
        finally:
            probe.close()
    failed = sorted(n for n in names if n in run.errors or not ok.get(n, False))

    if a.trace:
        tags = eventlog.parse_app(str(trace_dir), app_id)
        metrics = per_layer(run, setup, rss, group_of_queries(), tags, probe)
    else:
        metrics = end_to_end(run, setup, rss, probe)

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "inputs": os.path.basename(inputs),
        "host": _host(),
        "loadavg": run.loadavg,
        "steal": run.steal,
        "setup": setup,
        "queries": {
            p: {q: round(r["s"], 4) for q, r in recs.items()} for p, recs in run.timings.items()
        },
        "cpu_s": {
            p: {q: round(r["cpu_s"], 3) for q, r in recs.items()}
            for p, recs in run.timings.items()
        },
        "check": ok,
        "check_s": {q: round(t, 3) for q, t in run.check_s.items()},
        "wall": wall_figures(run),
        "probe_s": probe.times,
        "cpu": cpu_figures(run),
        "jvm_peak_rss_mb": rss[1],
        "errors": run.errors,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
    }
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(ROOT / ".tmp" / run_id, ignore_errors=True)
    for name in failed:
        print(f"perfbench: FAILED {name}: {run.errors.get(name, 'check mismatch')}",
              file=sys.stderr)
    side = ("host", "loadavg", "steal", "wall", "probe_s", "cpu", "jvm_peak_rss_mb")
    print(json.dumps({k: record[k] for k in side}))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(names),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
