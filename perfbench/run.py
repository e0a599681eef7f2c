#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_complex --seed 1 --seconds 20 \
        --trace 0

Runs one workload on ``local[nproc]`` from the root of a checkout and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes the spans to ``.perfbench_work/trace-<workload>-<seed>.json``.
``--corrupt`` damages the outputs before they are checked, to show that
the checks catch it (``failed`` > 0, ``correct`` false).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# setups per run; setup_s is their median
SETUPS = 3
# measured units per run, at the least; throughputs are their medians
MIN_UNITS = 2


def _spec() -> dict:
    """BENCHMARK.json: the workload names and each metric's unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _parse(argv, spec: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="damage the outputs before checking them")
    return p.parse_args(argv)


def _environment() -> None:
    """Set before the JVM starts: the workers it forks inherit it. The
    repo root on PYTHONPATH lets them import the package from a clean
    shell; Spark's scratch space and every temp file stay in WORK."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the host is shared: cap the heap the program asks 8g for. The
        # heap is not pre-touched, so peak_rss_mb sees the heap in use.
        # Why C1 only, a larger code cache and the serial collector with
        # a fixed young generation: perfbench/README.md, "How a run is
        # timed".
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC -Xmn256m",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + \
        " pyspark-shell"
    sys.path.insert(0, ROOT)


def _session(cpus: int):
    from racket_linkeddata_spark.plans.kg import session

    spark = session("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _measure(wl, spark, seconds: float):
    """A fixed number of units, sized to take about ``seconds`` and at
    least MIN_UNITS: the same schedule on every run, so every run meets
    the JVM equally warm. A unit's time is its wall time less the CPU
    time the hypervisor gave other guests meanwhile, per CPU: on a shared
    host that steal comes in bursts of seconds to tens of seconds, and
    where one lands otherwise decides which unit is slow. Throughputs are
    medians over the units."""
    from spans import RssSampler, Tracer, steal_s

    tr = Tracer(spark, enabled=False)
    machine_cpus = os.cpu_count()
    units: list = []
    with RssSampler() as rss:
        for _ in range(max(MIN_UNITS, round(seconds / wl.unit_seconds))):
            s0 = steal_s()
            u = wl.unit(spark, tr)
            u["steal"] = (steal_s() - s0) / machine_cpus
            u["net"] = u["wall"] - u["steal"]
            units.append(u)
    metrics = {
        "pages_per_s": statistics.median(u["items"] / u["net"]
                                         for u in units),
        "out_rows_per_s": statistics.median(u["out_rows"] / u["net"]
                                            for u in units),
        "peak_rss_mb": rss.peak_kb / 1024,
    }
    return units, metrics


def _traced(wl, others, spark, trace_path: str, layer_units: dict):
    """One traced unit: its spans give the spark.* and trace.* metrics.
    Then every workload's layers, each over its own input, so that a
    traced run reports every layer whichever workload it was asked for.
    Each other workload is warmed up first, so that its layers are timed
    as warm as those of the one asked for."""
    from spans import Tracer

    tr = Tracer(spark, enabled=True)
    t_start = time.perf_counter() - tr.t0
    u = wl.unit(spark, tr)
    t_end = time.perf_counter() - tr.t0
    # the tracing's own cost inside the traced unit: a wall-clock
    # difference to an untraced unit is buried in run-to-run noise
    cost_s = tr.cost_s
    # the program's spans of the traced unit; bench.* spans are the
    # benchmark's own bookkeeping jobs
    pass_spans = [s["id"] for s in tr.spans if s["parent"] is None
                  and not s["name"].startswith("bench.")]
    m = dict.fromkeys(layer_units, 0.0)
    for w in [wl] + others:
        if w is not wl:
            w.prepare(spark)
            w.warm_up(spark, Tracer(spark, enabled=False), checked=False)
            w.unit(spark, tr)
        m.update(w.layers(spark, tr))
    tr.attach_ledger()
    for k, v in tr.rollup(pass_spans).items():
        m[f"spark.{k}"] = v
    for w in [wl] + others:
        m.update(w.ledger_metrics(tr))
    m["trace.overhead_frac"] = cost_s / (t_end - t_start)
    m["trace.unattributed_frac"] = (
        1 - tr.covered(t_start, t_end) / (t_end - t_start))
    tr.dump(trace_path, {"workload": wl.name, "seed": wl.seed,
                         "pass": [t_start, t_end], "metrics": m})
    return [u], {k: m[k] for k in layer_units}


def main(argv=None) -> int:
    spec = _spec()
    args = _parse(argv, spec)
    units_of = {m["name"]: m["unit"] for m in
                spec["per_layer" if args.trace else "end_to_end"]}
    if not os.path.isfile(os.path.join(ROOT, "racket_linkeddata_spark",
                                        "__init__.py")):
        print(f"perfbench: no racket_linkeddata_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _environment()
    from workloads import WORKLOADS

    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](WORK, args.seed, run_dir)
    others = [cls(WORK, args.seed, os.path.join(run_dir, name))
              for name, cls in WORKLOADS.items() if name != args.workload]
    spark = None
    setups: list = []
    units: list = []
    metrics: dict = {}
    failed, notes = 0, []
    phases: dict = {}
    try:
        # setup_s is an end-to-end metric: a traced run sets up once
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = _session(cpus)
            wl.prepare(spark)
            setups.append(time.perf_counter() - t)
        from spans import Tracer
        t = time.perf_counter()
        wl.warm_up(spark, Tracer(spark, enabled=False))
        phases["warm_up"] = time.perf_counter() - t
        t = time.perf_counter()
        if args.trace:
            units, metrics = _traced(
                wl, others, spark,
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                units_of)
        else:
            units, metrics = _measure(wl, spark, args.seconds)
            metrics["setup_s"] = statistics.median(setups)
        phases["measure"] = time.perf_counter() - t
        if args.corrupt:
            wl.corrupt()
        t = time.perf_counter()
        failed, notes = wl.check(spark, units)
        phases["check"] = time.perf_counter() - t
        failed *= len(units)
    except Exception:  # noqa: BLE001 — a run that raises is all failed
        traceback.print_exc()
        notes.append("the run raised")
        failed = -1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = max(1, sum(u["items"] for u in units))
    if failed < 0:
        failed = attempted
    print("perfbench: seconds per phase: setups "
          + " ".join(f"{x:.1f}" for x in setups) + " "
          + " ".join(f"{k} {v:.1f}" for k, v in phases.items()) + "; units "
          + " ".join(f"{u['wall']:.2f}" for u in units)
          + "; stolen per cpu "
          + " ".join(f"{u.get('steal', 0):.2f}" for u in units),
          file=sys.stderr)
    for n in notes:
        print(f"perfbench: check failed: {n}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not notes,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": metrics[k], "unit": units_of[k]}
                    for k in units_of if k in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
