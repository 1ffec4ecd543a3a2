"""Offline parser for Spark's own (uncompressed, JSON-lines) event log.

``parse`` reads the events this benchmark needs into a ``Log``;
``substrate`` sums the Spark-level numbers over the jobs submitted
inside a wall-clock window, and ``layer_of_description`` reads the layer
a traced job's description names.  Times in the log are epoch
milliseconds from the driver JVM's clock, the same clock as Python's
``time.time()``.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

from perfbench.metrics import gap

PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float | None
    stage_ids: list[int]
    group: str | None
    description: str | None


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    # completed stage id -> bytes exchanged with Python workers
    stages: dict[int, int] = field(default_factory=dict)
    # (stage id, succeeded, task metrics dict)
    tasks: list[tuple[int, bool, dict]] = field(default_factory=list)


def _events(lines: Iterable[str]):
    for line in lines:
        line = line.strip()
        if line:
            yield json.loads(line)


def parse(lines: Iterable[str]) -> Log:
    log = Log()
    for ev in _events(lines):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                ev["Submission Time"] / 1000.0,
                None,
                list(ev.get("Stage IDs", [])),
                props.get("spark.jobGroup.id"),
                props.get("spark.job.description"),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            py = 0
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTES:
                    py += int(acc.get("Value") or 0)
            log.stages[info["Stage ID"]] = py
        elif kind == "SparkListenerTaskEnd":
            ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
            log.tasks.append((ev["Stage ID"], ok, ev.get("Task Metrics") or {}))
    return log


def read(path: str) -> Log:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def jobs_in(log: Log, window: tuple[float, float]) -> list[Job]:
    lo, hi = window
    return [j for j in log.jobs.values() if lo <= j.submit_s <= hi]


def job_interval(job: Job, window_end: float) -> tuple[float, float]:
    return job.submit_s, job.end_s if job.end_s is not None else window_end


def substrate(log: Log, window: tuple[float, float]) -> dict[str, float]:
    """Spark-level totals over the jobs submitted inside ``window``:
    jobs, completed stages, tasks, failed tasks, executor run/CPU/GC
    time, shuffle bytes, bytes exchanged with Python workers, and the
    driver gap (window time covered by no running job)."""
    jobs = jobs_in(log, window)
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t[0] in stage_ids]
    run_ms = cpu_ns = gc_ms = read_b = write_b = 0
    for _sid, _ok, m in tasks:
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    done = [log.stages[s] for s in stage_ids if s in log.stages]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(done),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(1 for t in tasks if not t[1]),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_read_bytes": read_b,
        "spark.shuffle_write_bytes": write_b,
        "spark.python_bytes": sum(done),
        "spark.driver_gap_s": gap(
            window, [job_interval(j, window[1]) for j in jobs]
        ),
    }


def layer_of_description(desc: str | None, layers: Iterable[str]) -> str | None:
    """``"<layer>:<fn>"`` -> layer, for descriptions the tracer set."""
    if not desc or ":" not in desc:
        return None
    head = desc.split(":", 1)[0]
    return head if head in set(layers) else None
