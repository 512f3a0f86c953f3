"""Spark job and stage records from the Spark driver's REST status API, placed
on the same wall clock as the benchmark's spans (epoch seconds).

Used after the timed region only: the listener that fills the status
store runs asynchronously, so ``settled_jobs`` polls until the job list
stops growing.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import urllib.request



def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read())


def parse_time(s: str | None) -> float | None:
    """'2026-10-17T02:40:00.123GMT' -> epoch seconds."""
    if not s:
        return None
    return _dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def settled_jobs(spark, timeout: float = 20.0) -> list[dict]:
    deadline = time.time() + timeout
    prev = None
    while True:
        jobs = _get(spark, "jobs")
        done = [j for j in jobs if j.get("completionTime")]
        if prev is not None and len(done) == len(prev) == len(jobs):
            return done
        if time.time() > deadline:
            return done
        prev = done
        time.sleep(0.3)


def stages(spark) -> list[dict]:
    return _get(spark, "stages?status=complete")


def task_skew(spark, stage: dict) -> tuple[float, float]:
    """(median task seconds, longest task over median task) of one stage;
    the skew reads 1.0 when tasks are even."""
    q = _get(
        spark,
        f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0",
    )
    med, mx = q["executorRunTime"]
    return med / 1000.0, (mx / med if med else 1.0)


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    out = []
    for j in jobs:
        a, b = parse_time(j.get("submissionTime")), parse_time(j.get("completionTime"))
        if a is not None and b is not None:
            out.append((a, b))
    return out


def stages_within(all_stages: list[dict], start: float, end: float) -> list[dict]:
    """Stages submitted inside [start, end] (ms clock resolution, so a
    stage submitted in the span's first millisecond is kept)."""
    out = []
    for s in all_stages:
        t = parse_time(s.get("submissionTime"))
        if t is not None and start - 0.001 <= t <= end:
            out.append(s)
    return out
