#!/usr/bin/env python3
"""Star-ETL benchmark entry point.

    python3 perfbench/run.py --workload reference_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` inside ``perfbench/_work/``, drives the package through its
public functions on ``local[nproc]`` (``SPARK_GRAFT_CPUS``), checks its
outputs (the published star schema and the query results) against the
DuckDB oracle, and prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the ``end_to_end`` metrics of ``BENCHMARK.json``;
``--trace 1`` reports its ``per_layer`` metrics from spans the
benchmark records around calls into each layer (see README.md). The
line before it is the full record (run context, both metric sets,
per-unit detail, oracle verdicts), also written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

import workloads
from tracer import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170


class RunTimeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _configure_env(work: str) -> None:
    """Keep Spark's scratch files inside the checkout and let its Python
    workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants:
    the driver JVM and the Python workers."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def calib_s(spark) -> float:
    """A fixed pure-JVM aggregation (as bench.py) that shows host speed."""
    t = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(id * 3 % 7)").collect()
    return time.perf_counter() - t


def _shutdown(spark) -> None:
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                proc.kill()
                proc.wait()


def run(args) -> dict:
    """One benchmark run; returns the record."""
    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        _configure_env(work)
        sys.path.insert(0, ROOT)
        t_start = time.perf_counter()
        from bigdataflink_spark import get_spark

        spark = get_spark("perfbench")
        try:
            return _measure(args, spark, work, t_start)
        finally:
            _shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch dir is still there


def _measure(args, spark, work: str, t_start: float) -> dict:
    import pyspark

    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, args.workload) if args.trace else None
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, t_start)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if tracer:
            tracer.restore()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]), "pyspark": pyspark.__version__,
        "calib_s": calib_s(spark), "peak_rss_mb": peak_rss_mb(),
        "attempted": res.attempted, "failed": res.failed,
        "error_rate": res.failed / res.attempted if res.attempted else 1.0,
        "end_to_end": res.e2e, "per_layer": res.layers, "detail": res.detail,
    }
    if tracer:
        extra = res.detail["traced_extra_s"] + tracer.overhead_s
        record["per_layer"]["trace_overhead_share"] = extra / (res.detail["run_wall_s"] - extra)
        tracer.dump(os.path.join(HERE, "results", _stem(args) + "-spans.jsonl"))
    record["per_layer"]["calib_s"] = record["calib_s"]
    record["per_layer"]["peak_rss_mb"] = record["peak_rss_mb"]
    return record


def _stem(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}"


def result_line(record: dict, spec: dict, trace: int) -> dict:
    """The machine-readable last line: every metric of the run's kind."""
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        source = record["per_layer" if trace else "end_to_end"]
        if not trace and m["name"] not in source:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric whose layer the workload never enters is 0
        metrics[m["name"]] = {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
    return {
        "correct": record["failed"] == 0,
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    try:
        record = run(args)
        line = result_line(record, spec, args.trace)
    except ImportError as e:
        print(f"perfbench: the package under test is not importable here: {e}", file=sys.stderr)
        return 2
    except Exception:  # noqa: BLE001 — report any failure without a result line
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", _stem(args) + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
