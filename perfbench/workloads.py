"""The two workloads and what their jobs share.

Each job object generates its inputs in ``setup()``, runs its steps of
a round in ``start``, ``follow`` and ``repeat`` (see ``TwoJobs``) and
checks its share of a round in ``check(part)``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

# Each short step (a re-run with nothing new, the verify read-back, the
# snapshot read-back, a search request) is sampled this many times per round,
# the samples of all of them interleaved after the bulk and follow-up steps.
SHORT_STEP_REPEATS = 3


def timed(tracer, name: str, fn, *args, **kwargs):
    """(result, seconds) of one operation; a root span when traced."""
    with tracer.span(f"op.{name}") if tracer is not None else nullcontext():
        t = time.perf_counter()
        result = fn(*args, **kwargs)
        return result, time.perf_counter() - t


def new_part() -> dict:
    """A job's share of a round: its operation count and the times of its
    bulk (``main``), ``followup`` and ``noop`` steps (job 2 has no noop
    step)."""
    return {"ops": 0, "times": {"main": [], "followup": [], "noop": []}}


def step(part: dict, tracer, name: str, key: str, fn, *args, ops: int = 1):
    """Run one timed step of a job, count its ``ops`` operations and keep
    its time under ``key`` (and log it to standard error); returns the
    step's result."""
    result, t = timed(tracer, name, fn, *args)
    part["ops"] += ops
    part["times"][key].append(t)
    print(f"step {name} {t:.3f} s", file=sys.stderr)
    return result


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


END_TO_END = {
    "setup_s": "s",
    "job1_throughput_per_s": "1/s",
    "job1_followup_s": "s",
    "job1_noop_s": "s",
    "job2_throughput_per_s": "1/s",
    "job2_followup_s": "s",
}


class TwoJobs:
    """A workload of two jobs run in one session, each with its own inputs
    and checks. A job runs its bulk step in ``start`` (the first job's
    pays the JVM's first-use costs), what must follow it once in
    ``follow`` and one sample of each of its short steps in ``repeat``;
    ``finish`` releases what the round holds. A round runs both bulk
    steps, then both ``follow``s, then ``SHORT_STEP_REPEATS`` interleaved
    repeats, so the short steps run on a JVM that has been through every
    code path once and each one's samples spread over the end of the
    round. The workload reports each job's ``throughput_per_s`` (its bulk
    step) and ``followup_s`` (the step users wait on next), and job 1's
    ``noop_s`` (a re-run with nothing new), medians of their samples, as
    ``job1_*`` and ``job2_*``."""

    def __init__(self, first, second, main_phase: str):
        self.jobs = (first, second)
        self.main_phase = main_phase

    def setup(self) -> None:
        for job in self.jobs:
            job.setup()

    def round(self, r: int, tracer=None) -> dict:
        parts = []
        try:
            for job in self.jobs:
                parts.append(job.start(r, tracer))
            for job, part in zip(self.jobs, parts):
                job.follow(part, tracer)
            for _ in range(SHORT_STEP_REPEATS):
                for job, part in zip(self.jobs, parts):
                    job.repeat(part, tracer)
        finally:
            for job, part in zip(self.jobs, parts):
                job.finish(part)
        out = {
            "ops": sum(p["ops"] for p in parts),
            "main_s": sum(p["times"]["main"][0] for p in parts),
            "parts": parts,
        }
        for i, p in enumerate(parts, 1):
            out[f"job{i}_throughput_per_s"] = p["throughput_per_s"]
            out[f"job{i}_followup_s"] = statistics.median(p["times"]["followup"])
        out["job1_noop_s"] = statistics.median(parts[0]["times"]["noop"])
        return out

    def check(self, out: dict) -> list[str]:
        return [p for job, part in zip(self.jobs, out["parts"]) for p in job.check(part)]


def make(name: str, spark, work: str, seed: int) -> TwoJobs:
    if name == "ingest":
        from wl_ingest import DailyIngest, WideJdbcIngest

        return TwoJobs(
            DailyIngest(spark, os.path.join(work, "daily"), seed),
            WideJdbcIngest(spark, os.path.join(work, "wide"), seed),
            "backlog run + wide ingest run",
        )
    if name == "corpus_search":
        from wl_corpus import CorpusCuration
        from wl_search import HybridSearch

        return TwoJobs(
            CorpusCuration(spark, os.path.join(work, "corpus"), seed),
            HybridSearch(spark, os.path.join(work, "search"), seed),
            "curation publish + index build",
        )
    raise ValueError(f"unknown workload {name!r}")
