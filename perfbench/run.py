"""Benchmark of the biggis_landuse_spark package, run from the root of a
source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is: session start, input synthesis from the seed, one untimed
first (cold) pass, then timed passes until ``--seconds`` of timed work
is done. Every output is checked against an oracle that does not use
the code under test. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the details (per-workload metric names,
sample counts, span summary). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a run must end well inside 180 s: no new pass starts after this
DEADLINE_S = 140.0

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_session(work: str):
    """The program's own local session (its heap, direct-memory and
    engine settings), with only the deployment paths (Spark local dir,
    warehouse) pointed into the run's work directory."""
    from biggis_landuse_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    every descendant process to exit."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate to kill
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "biggis_landuse_spark")):
        print(
            f"perfbench: no biggis_landuse_spark package under {ROOT}; "
            "run from the root of a source checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.querymix import QueryMix
    from perfbench.scene import ScenePipeline

    workloads = {"scene_pipeline": ScenePipeline, "query_mix": QueryMix}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"  # collected timestamps compare with tz-naive oracles
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVM temp files into the work directory and no perf-data file in
    # /tmp, without replacing the program's own driver Java options
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"
    )

    from perfbench.harness import (
        Failures, PeakRss, Tracer, median, percentile, tail_percentile,
    )

    rss = PeakRss()
    rss.start()
    spark = None
    try:
        spark = _start_session(work)
        session_s = time.perf_counter() - t_start
        failures = Failures()
        tracer = Tracer(spark, counts=bool(args.trace))
        wl = workloads[args.workload](spark, tracer, failures, work, args.seed)

        t0 = time.perf_counter()
        wl.setup()
        synth_s = time.perf_counter() - t0
        with tracer.span("pass", op=0):
            cold_pass_s = wl.run_pass(0)
        setup_s = time.perf_counter() - t_start

        wl.op_ms.clear()  # latencies come from timed passes only
        passes: list[float] = []
        timed = 0.0
        while not passes or (
            timed < args.seconds and time.perf_counter() - t_start < DEADLINE_S
        ):
            with tracer.span("pass", op=len(passes) + 1):
                dt = wl.run_pass(len(passes) + 1)
            passes.append(dt)
            timed += dt
        rss.sample()  # last look at the JVM and workers before they exit
        if args.trace:
            from perfbench.layers import per_layer

            layer = per_layer(tracer, wl, passes)
    finally:
        if spark is not None:
            _stop_session(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    peak_rss_mb = rss.peak_bytes / 2**20
    e2e = {"setup_s": setup_s, "cold_pass_s": cold_pass_s, "pass_s": median(passes)}
    tail_q = tail_percentile(len(wl.op_ms))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "session_s": session_s,
        "synth_s": synth_s,
        "passes": passes,
        # not gated: its run-to-run spread is wider than any bound, see README
        "peak_rss_mb": peak_rss_mb,
        # per-op latency of the timed passes; not gated, see README
        wl.OP + "_p50_ms": median(wl.op_ms),
        f"{wl.OP}_p{tail_q}_ms": percentile(wl.op_ms, tail_q),
        wl.OP + "_ms": wl.op_ms,
        "failures": failures.messages,
        **wl.detail(),
        "cold_spans": tracer.summary(ops={0}),
        "timed_spans": tracer.summary(ops=set(tracer.timed_passes())),
    }
    if args.trace:
        layer["peak_rss_mb"] = (peak_rss_mb, "MB")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failures.failed == 0,
                "attempted": failures.attempted,
                "failed": failures.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
