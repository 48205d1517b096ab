"""Benchmark command: set up, warm, time and verify one workload.

    python3 perfbench/run.py --workload {supersteps,partition_k8} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Everything the run writes (Spark local
dirs, event logs, snapshots, reports) goes under ``.bench_work/`` and
``.bench_out/`` there. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
full report (pinned environment, per-pass walls, workload notes), which is
also written to ``.bench_out/``.

``--trace 0`` reports the end-to-end metrics with tracing off. ``--trace 1``
runs one traced pass instead of the timed passes and reports the per-layer
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from proctree import ProcessTreeSampler, snapshot, wait_for_exit  # noqa: E402

DRIVER_MEM_BYTES = 2 << 30


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return ap.parse_args(argv)


def _host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(root: str, work: str, wl, trace: bool) -> tuple[dict, dict]:
    """Environment and Spark conf for the run, fixed from outside the
    library. Returns (spark conf, record of the pinned values)."""
    nproc = len(os.sched_getaffinity(0))
    mem = min(DRIVER_MEM_BYTES, _host_mem_bytes() // 4)
    driver_mem = f"{mem >> 20}m"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": driver_mem,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    conf = {
        "spark.sql.adaptive.enabled": str(wl.aqe).lower(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # no hsperfdata file: the JVM would write it under /tmp whatever tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    record = {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "shuffle_partitions": wl.partitions,
        "driver_memory": driver_mem,
        "aqe": wl.aqe,
        "warmup": wl.warmup_note,
        "python": platform.python_version(),
    }
    return conf, record


def start_spark(wl, conf: dict, nproc: int):
    from kaminpar_spark.session import get_spark

    return get_spark(
        f"perfbench_{wl.name}", cores=nproc, shuffle_partitions=wl.partitions, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(wl, seconds: float, checks: list) -> list[float]:
    """Run passes until their summed wall reaches ``seconds``; each output is
    checked after its pass, outside the timed interval."""
    walls: list[float] = []
    while not walls or sum(walls) < seconds:
        t0 = time.perf_counter()
        try:
            out = wl.run()
        except Exception:
            traceback.print_exc()
            checks.append((["pass raised"], {}))
            walls.append(time.perf_counter() - t0)
            continue
        walls.append(time.perf_counter() - t0)
        checks.append(_check(wl, out))
    return walls


def _check(wl, out) -> tuple[list[str], dict]:
    try:
        return wl.check(out)
    except Exception:
        traceback.print_exc()
        return ["check raised"], {}


def run(args, root: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl_cls = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", f"{wl_cls.name}-{os.getpid()}")
    conf, env = pin_environment(root, work, wl_cls, bool(args.trace))

    sampler = ProcessTreeSampler().start()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(wl_cls, conf, env["nproc"])
        session_s = time.perf_counter() - t_setup
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = None
        if args.trace:
            from tracing import make_tracer

            tracer = make_tracer(spark)
        wl = wl_cls(spark, os.path.join(work, "snapshots"))
        wl.setup(tracer)
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        checks: list = []
        traced = None
        if tracer is None:
            walls = timed_passes(wl, args.seconds, checks)
        else:
            from tracing import traced_pass

            traced = traced_pass(spark, wl, tracer, sampler)
            checks.append(traced["check"])
            walls = [traced["root"].wall_s]
        pids = [p.pid for p in snapshot(os.getpid()) if p.pid != os.getpid()]
        stop_spark(spark)
        spark = None
        left = wait_for_exit(pids)
        if left:
            raise RuntimeError(f"processes still running after stop: {left}")
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)

    failed = sum(1 for f, _ in checks if f)
    wall_s = statistics.median(walls)
    report = {
        "workload": wl_cls.name,
        "why": wl_cls.why,
        "seed": args.seed,
        "seed_note": wl_cls.seed_note,
        "env": env,
        "session_s": session_s,
        "warmup_s": warm_s,
        "walls_s": walls,
        "failures": [f for f, _ in checks if f],
        "outputs": [{k: v for k, v in m.items() if k != "levels"} for _, m in checks],
        "peak_rss_mb": sampler.peak_rss_bytes / 2**20,
        "rss_samples": sampler.samples,
    }
    if traced is None:
        metrics = {
            "wall_s": (wall_s, "s"),
            "setup_s": (setup_s, "s"),
            "edges_per_s": (wl.half_edges * wl_cls.edge_sweeps / wall_s, "edges/s"),
        }
    else:
        from tracing import per_layer_metrics

        metrics, report["trace"] = per_layer_metrics(
            tracer, traced, os.path.join(work, "events"), env["nproc"]
        )
        # peak RSS of the whole process tree varies by about a tenth from run
        # to run, too much for an end-to-end bound
        metrics["peak_rss_mb"] = (sampler.peak_rss_bytes / 2**20, "MB")
    result = {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    shutil.rmtree(work, ignore_errors=True)
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import kaminpar_spark
    except ImportError as e:
        print(f"perfbench: the library is not importable from {root}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(kaminpar_spark.__file__).startswith(root + os.sep):
        print(f"perfbench: kaminpar_spark resolves outside {root}", file=sys.stderr)
        return 2
    report, result = run(args, root)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
