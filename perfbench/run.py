"""Session benchmark of the spark-tensors engine.

    python3 perfbench/run.py --workload artifacts --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process drives ``local[<nproc>]``
Spark sessions over tables that ``scripts/gen_scale.py`` generates once
per checkout into ``.perfbench/`` (its own fixed seed: every run reads
the same rows).  ``--seed`` permutes the workload's query order.

A *cycle* is a fresh session (set-up: session start plus a generic
warm-up) followed by one *pass*: every query of the workload in the
seed's order, each timed as build (the query callable, where the
engine's eager actions run) plus action (``count()``).

The first cycle of a run also starts the JVM: its set-up and pass are
the cold ones.  ``--trace 0`` runs cycles until at least two have run
and ``--seconds`` have passed since the run began, and reports the
end-to-end metrics: the medians over the cycles of the pass wall and the
set-up time, and the driver's peak RSS.  ``--trace 1`` runs the cold
cycle, then a traced and an untraced cycle; the traced one (layer spans,
Spark event log, Python UDF profiler) gives the per-layer metrics, and
its wall against the untraced one gives the tracing overhead.

The outputs of the last timed pass (the traced one with ``--trace 1``)
are checked against the DuckDB oracles outside the timed region.  A
query that raises or mismatches is reported and counted in ``failed``;
the run goes on and still prints every metric.  The last stdout line is
the JSON result.  README.md documents the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
# scripts/gen_scale.py multiplier relative to sf0.1 row counts: 0.1
# gives sf0.01-sized tables, where per-job constants already dominate
# every query (ROADMAP aim 1) and a cycle fits the run budget.
DATA_MULT = "0.1"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
LAYERS = ("session", "queries", "io", "kg", "train", "functions",
          "pipeline", "operators", "streaming")
SPAN_LAYERS = ("io", "kg", "train", "pipeline", "operators", "streaming")
JOB_LAYERS = ("kg", "train", "pipeline", "operators", "streaming")

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "driver_rss_mb": "MB",
}
PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.memo_calls": "count",
    "queries.memo_misses": "count",
    "queries.memo_build_s": "s",
    **{f"{lay}.calls": "count" for lay in SPAN_LAYERS},
    **{f"{lay}.self_s": "s" for lay in SPAN_LAYERS},
    **{f"{lay}.jobs": "count" for lay in JOB_LAYERS},
    "functions.python_s": "s",
    "functions.python_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.driver_gap_s": "s",
    "trace.overhead_frac": "frac",
}
# A run starts no further timed cycle after this many seconds, so it
# ends well inside the 180 s a run may take.
DEADLINE_S = 140.0
# Cycles per untraced run at least, whatever --seconds says: the medians
# over a cold and a warm cycle are steadier than one pass on a shared box.
MIN_CYCLES = 2


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])


def ensure_data() -> str:
    """Generate the input tables once per checkout (deterministic: the
    generator's own fixed seed) and return their directory."""
    out = os.path.join(WORK, f"data-x{DATA_MULT}")
    if not os.path.exists(os.path.join(out, "_READY")):
        staging = f"{out}.{os.getpid()}"
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "gen_scale.py"),
             DATA_MULT, staging],
            check=True, stdout=subprocess.DEVNULL,
        )
        open(os.path.join(staging, "_READY"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(staging, out)
    return out


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def warmup(spark, data: str) -> None:
    """Generic warm-up, no query artifacts: JIT/executors, every parquet
    footer, and one pass through the Arrow Python workers."""
    from functools import reduce

    from pyspark.sql import functions as F

    from spark_tensors_spark.io.readers import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # one job over every table: the footers and the scan path warm up
    # without ten jobs' worth of scheduling
    reduce(lambda a, b: a.unionAll(b), [
        load_table(spark, data, t).select(F.lit(1).alias("one")) for t in TABLES
    ]).count()
    spark.range(10_000).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: (pdf.assign(id=pdf["id"]) for pdf in it), "id long"
    ).count()


class Pass:
    """One timed pass over a workload's queries."""

    def __init__(self):
        self.rows: list[dict] = []
        self.dfs: dict = {}
        self.wall_s = 0.0
        self.window: tuple[float, float] = (0.0, 0.0)


def _finite(v) -> bool:
    if isinstance(v, float):
        return math.isfinite(v)
    if isinstance(v, (list, tuple)):
        return all(_finite(x) for x in v)
    return True


class Bench:
    """One workload in one order over one input directory."""

    def __init__(self, workload: str, order: list[str], data: str, started: float):
        self.workload = workload
        self.order = order
        self.data = data
        self.started = started
        self.query_rows: list[dict] = []  # per-query traced table

    def setup(self, extra_conf: dict | None = None):
        """Fresh session plus warm-up: (spark, start_s, warmup_s)."""
        from spark_tensors_spark.session import get_session

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        t0 = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{self.workload}",
                            master=f"local[{cpus()}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warmup(spark, self.data)
        return spark, t1 - t0, time.perf_counter() - t1

    def run_pass(self, spark, tracer=None) -> Pass:
        import __spark_entry__ as entry

        queries = entry.queries()  # read after a tracer rebinds the registry
        sc = spark.sparkContext
        p = Pass()
        t0, e0 = time.perf_counter(), time.time()
        for name in self.order:
            row = {"query": name, "build_s": None, "action_s": None,
                   "error": None, "start": time.time()}
            sc.setJobGroup(name, f"queries:{name}")
            if tracer is not None:
                tracer.set_base_description("queries:build")
            a = time.perf_counter()
            try:
                df = queries[name](spark, self.data)
                b = time.perf_counter()
                if tracer is not None:
                    tracer.set_base_description("queries:action")
                df.count()
                row["build_s"], row["action_s"] = b - a, time.perf_counter() - b
                p.dfs[name] = df
            except Exception as exc:  # noqa: BLE001 - recorded, the run goes on
                row["error"] = f"{type(exc).__name__}: {exc}".strip().splitlines()[0][:300]
            row["end"] = time.time()
            p.rows.append(row)
        p.wall_s = time.perf_counter() - t0
        p.window = (e0, time.time())
        if tracer is not None:
            tracer.set_base_description(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        return p

    def cycle(self):
        """Fresh session + one untraced pass; the session stays open."""
        spark, start_s, warm_s = self.setup()
        return spark, start_s, warm_s, self.run_pass(spark)

    def verify(self, spark, dfs: dict) -> dict[str, str]:
        """Check each output against its DuckDB oracle (or, for queries
        without one, on row count and finite values); return failures."""
        import __spark_entry__ as entry
        from tests.oracle_harness import compare, duck_connection

        oracles = entry.oracle_sql()
        con = duck_connection(self.data)
        bad: dict[str, str] = {}
        try:
            for name, df in dfs.items():
                try:
                    oracle = oracles.get(name)
                    if oracle is None:
                        rows = df.collect()
                        ok = bool(rows) and all(_finite(tuple(r)) for r in rows)
                        detail = f"{len(rows)} rows, all finite: {ok}"
                    else:
                        ok, detail = compare(lambda _s, _d, df=df: df, oracle,
                                             spark, self.data, con=con)
                except Exception as exc:  # noqa: BLE001 - a failed check, not a crash
                    ok = False
                    detail = f"{type(exc).__name__}: {exc}".strip().splitlines()[0][:300]
                if not ok:
                    bad[name] = f"output check failed: {detail}"
        finally:
            con.close()
        return bad

    def untraced(self, seconds: float):
        """Timed cycles until at least ``MIN_CYCLES`` have run and
        ``seconds`` have passed since the run began.  The first cycle
        starts the JVM, so its set-up and pass are the cold ones; both
        medians include it."""
        from perfbench.metrics import median_n

        setups, passes = [], []
        while True:
            spark, s, w, p = self.cycle()
            setups.append(s + w)
            passes.append(p)
            elapsed = time.perf_counter() - self.started
            if len(passes) >= MIN_CYCLES and (
                elapsed >= seconds or elapsed > DEADLINE_S
            ):
                break
            spark.stop()
        rss = driver_peak_rss_mb()
        v0 = time.perf_counter()
        mismatches = self.verify(spark, passes[-1].dfs)
        spark.stop()
        print(f"set-ups {' '.join(f'{x:.2f}' for x in setups)} s; "
              f"output check {time.perf_counter() - v0:.2f} s")
        metrics = {
            "wall_s": median_n(p.wall_s for p in passes),
            "setup_s": median_n(setups),
            "driver_rss_mb": (rss, 1),
        }
        return metrics, passes, mismatches

    def traced(self):
        """The cold cycle, then a traced and an untraced cycle in the same
        order.  Per-layer metrics come from the traced one; its overhead
        is measured against the untraced cycle after it, which has had
        more JIT warming, so the overhead errs high, never low."""
        import glob
        import pstats

        from perfbench import eventlog
        from perfbench.metrics import self_times, union_length
        from perfbench.spans import Tracer

        spark, cold_s, cold_w, cold = self.cycle()
        spark.stop()

        logdir = os.path.join(WORK, "eventlog", str(os.getpid()))
        profdir = os.path.join(WORK, "profile", str(os.getpid()))
        for d in (logdir, profdir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        spark, start_s, warm_s = self.setup({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        spark.profile.clear(type="perf")
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer = Tracer(spark.sparkContext)
        tracer.install()
        try:
            p = self.run_pass(spark, tracer)
        finally:
            tracer.uninstall()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.dump(profdir, type="perf")
        python_s = sum(pstats.Stats(f).total_tt
                       for f in glob.glob(os.path.join(profdir, "*.pstats")))
        jvm_rss = jvm_peak_rss_mb(spark)
        mismatches = self.verify(spark, p.dfs)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        log = eventlog.read(os.path.join(logdir, app_id))
        shutil.rmtree(logdir, ignore_errors=True)
        shutil.rmtree(profdir, ignore_errors=True)
        spark, _s, _w, after = self.cycle()
        spark.stop()

        ok = [r for r in p.rows if r["error"] is None]
        m: dict[str, float] = {
            "session.cold_start_s": cold_s + cold_w,
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "session.jvm_peak_rss_mb": jvm_rss,
            "queries.build_s": sum(r["build_s"] for r in ok),
            "queries.action_s": sum(r["action_s"] for r in ok),
            "queries.memo_calls": tracer.memo_calls,
            "queries.memo_misses": len(tracer.memo_builds),
            "queries.memo_build_s": union_length(tracer.memo_builds),
        }
        spans = tracer.spans
        selfs = self_times([(par, s, e) for _l, _n, par, s, e in spans])
        for lay in SPAN_LAYERS:
            idx = [i for i, sp in enumerate(spans) if sp[0] == lay]
            m[f"{lay}.calls"] = len(idx)
            m[f"{lay}.self_s"] = sum(selfs[i] for i in idx)
        sub = eventlog.substrate(log, p.window)
        m["functions.python_s"] = python_s
        m["functions.python_bytes"] = sub.pop("spark.python_bytes")
        m.update(sub)
        jobs = eventlog.jobs_in(log, p.window)
        job_layer = {j.job_id: job_layer_of(j, spans) for j in jobs}
        for lay in JOB_LAYERS:
            m[f"{lay}.jobs"] = sum(1 for v in job_layer.values() if v == lay)
        m["trace.overhead_frac"] = (p.wall_s - after.wall_s) / after.wall_s
        self.query_rows = query_rows(p, jobs, job_layer)
        passes = [cold, p, after]
        return {k: (v, 1) for k, v in m.items()}, passes, mismatches


def job_layer_of(job, spans) -> str | None:
    """Layer named by the job's description; for jobs whose description
    Spark replaced (streaming micro-batches run under their own), the
    innermost span open when the job was submitted."""
    from perfbench.eventlog import layer_of_description

    lay = layer_of_description(job.description, LAYERS)
    if lay is not None:
        return lay
    best = None
    for span_layer, _n, _par, s, e in spans:
        if s <= job.submit_s <= e and (best is None or s >= best[0]):
            best = (s, span_layer)
    return best[1] if best else None


def query_rows(p: Pass, jobs, job_layer) -> list[dict]:
    """Per-query traced rows: wall split, jobs by layer, driver gap."""
    from perfbench.eventlog import job_interval
    from perfbench.metrics import gap

    rows = []
    for r in p.rows:
        win = (r["start"], r["end"])
        mine = [j for j in jobs if win[0] <= j.submit_s <= win[1]]
        by_layer: dict[str, int] = {}
        for j in mine:
            key = job_layer[j.job_id] or "-"
            by_layer[key] = by_layer.get(key, 0) + 1
        rows.append({
            "query": r["query"],
            "wall_s": win[1] - win[0],
            "build_s": r["build_s"],
            "action_s": r["action_s"],
            "jobs": len(mine),
            "jobs_by_layer": by_layer,
            "driver_gap_s": gap(win, [job_interval(j, win[1]) for j in mine]),
            "error": r["error"],
        })
    return rows


def failures(passes: list[Pass], mismatches: dict[str, str]) -> tuple[int, int, dict]:
    """(attempted, failed, first error by query): every query execution
    is an attempt; a raised execution or a checked output that did not
    match its oracle is a failure."""
    attempted = sum(len(p.rows) for p in passes)
    errors: dict[str, str] = {}
    failed = 0
    for p in passes:
        for r in p.rows:
            if r["error"]:
                failed += 1
                errors.setdefault(r["query"], r["error"])
    for name, msg in mismatches.items():
        failed += 1
        errors.setdefault(name, msg)
    return attempted, failed, errors


# prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36
# How long the JVM and the other processes a run started get to end on
# their own before they are killed.
STOP_GRACE_S = 30.0


def become_subreaper() -> None:
    """Make this process the reaper of every process it starts: Spark's
    Python daemon workers, orphaned when the JVM exits, stay ours to wait
    for.  Best effort; outside Linux only direct children are waited for."""
    import ctypes

    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (AttributeError, OSError):
        pass


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def stop_processes() -> None:
    """Stop the Spark session and its JVM, then wait until every process
    the run started has ended: the JVM outlives a bare interpreter exit by
    about a second, and its Python workers may outlive the JVM."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        SparkContext = pyspark.SparkContext
        gateway = SparkContext._gateway
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(STOP_GRACE_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + STOP_GRACE_S
    while pids := child_pids():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, started)
    finally:
        stop_processes()


def run(args, started: float) -> int:
    from perfbench.workloads import WORKLOADS

    prepare_env()
    import __spark_entry__ as entry

    wl = WORKLOADS[args.workload]
    order = wl.names(entry.queries())
    random.Random(args.seed).shuffle(order)
    bench = Bench(wl.name, order, ensure_data(), started)

    if args.trace:
        metrics, passes, mismatches = bench.traced()
        units = PER_LAYER
        out = os.path.join(WORK, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump(bench.query_rows, fh, indent=1)
    else:
        metrics, passes, mismatches = bench.untraced(args.seconds)
        units = END_TO_END
    attempted, failed, errors = failures(passes, mismatches)

    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: "
          f"{len(passes)} passes of {len(order)} queries, "
          f"wall per pass {' '.join(f'{p.wall_s:.2f}' for p in passes)}")
    for name, msg in sorted(errors.items()):
        print(f"  FAILED {name}: {msg}")
    for i, p in enumerate(passes, 1):
        for r in p.rows:
            if r["error"] is None:
                print(f"  pass {i} {r['query']} build {r['build_s']:.3f} s "
                      f"action {r['action_s']:.3f} s")
    print(f"  failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    for name, (value, n) in metrics.items():
        print(f"  {name} {value:.6g} {units[name]} (n={n})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name][0], "unit": units[name]}
                    for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
