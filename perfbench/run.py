"""Benchmark entry point for the ingest engine.

    python3 perfbench/run.py --workload <ingest|corpus_search> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The run starts one SparkSession
on ``local[<cores>]`` through the engine's own session factory,
generates the workload's inputs from ``--seed`` under
``perfbench/.work/``, then repeats whole rounds of the workload's
operations until ``--seconds`` have passed (at least one round). Every
round's outputs are checked against a computation made apart from the
engine. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

There is no warm-up: the workloads are jobs a user starts in a fresh
process, so the first round pays the JVM's first-use costs as the job
would. With ``--seconds 1`` a run is exactly one such cold round.

``--trace 0`` reports the end-to-end metrics, medians over the rounds.
``--trace 1`` runs one round with the engine's layer functions wrapped
in spans, reports its per-layer metrics, the run's (untraced) set-up
time, the traced main phase and the time the tracer spent recording,
and writes the spans to ``perfbench/out/trace-<workload>-seed<n>.json``.

The run stops its SparkSession and the JVM, waits for the JVM to exit,
and removes everything it generated.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "corpus_search")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(work: str):
    """The engine's session factory on local[<cores>], with every scratch
    file of Spark, the JVM and embedded Derby kept under ``work``."""
    from cig_etl_s3_to_sql_data_ingestor_spark.session import get_spark

    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}"
    )
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the SparkSession, then close the JVM's stdin (it exits on
    EOF) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from spans import Tracer

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        wl = workloads.make(args.workload, spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        rounds, problems = [], []
        tracer = layers = None
        if args.trace:
            from layers import Layers

            tracer = Tracer(spark)
            layers = Layers(tracer)
            layers.install()
        t_measure = time.perf_counter()
        try:
            while True:
                out = wl.round(len(rounds), tracer)
                problems += wl.check(out)
                rounds.append(out)
                if args.trace or time.perf_counter() - t_measure >= args.seconds:
                    break
        finally:
            if tracer is not None:
                tracer.unwrap_all()

        attempted = sum(o["ops"] for o in rounds)
        if args.trace:
            metrics = trace_metrics(args, wl, layers, tracer, session_s, setup_s, rounds[0])
        else:
            metrics = {"setup_s": (setup_s, "s")}
            for name, unit in workloads.END_TO_END.items():
                if name != "setup_s":
                    metrics[name] = (statistics.median(o[name] for o in rounds), unit)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": 0,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def trace_metrics(args, wl, layers, tracer, session_s, setup_s, out):
    """Per-layer metrics of the traced round, next to the run's untraced
    set-up time and the round's main phase; the overhead of tracing is
    the time the tracer itself spent recording, as a share of the
    round's operations. The spans go to a file."""
    ops_s = sum(s.dur for s in tracer.spans if s.name.startswith("op."))
    metrics = {"session.start_s": (session_s, "s"), **layers.metrics()}
    metrics["trace.setup_s"] = (setup_s, "s")
    metrics["trace.main_s"] = (out["main_s"], "s")
    metrics["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    metrics["trace.overhead_pct"] = (100.0 * tracer.bookkeeping_s / ops_s, "%")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
        {
            "workload": args.workload,
            "seed": args.seed,
            "main_phase": wl.main_phase,
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    )
    return metrics


if __name__ == "__main__":
    sys.exit(main())
