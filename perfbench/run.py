"""Counterparty ETL, fuzzy-linkage and corpus near-dup benchmark.

Run from the repository root, one workload per process:

    python3 perfbench/run.py --workload counterparty_etl --seed 1 \
        --seconds 15 --trace 0

The run generates its inputs from ``--seed``, starts a session on
``local[<cores available>]``, runs one cold pass of the workload and then
warm passes for ``--seconds`` (at least two; the first is a warm-up that
the metrics leave out), checks the outputs of the last pass
against independent computations (``checks.py``), and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same passes with every call
into a layer traced (``spans.py``) and reports the per-layer metrics.
Generation, checks and trace collection stay outside the timed passes.
See README.md for the workloads, sizes and metric mapping.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Only light modules load before set-up; ``workloads`` brings numpy,
# pyarrow and duckdb and loads after it, so setup_s times the package and
# the JVM alone.
from spans import QUANTITIES, Tracer  # noqa: E402

PACKAGE = "pyspark_deduplication_spark"

WORKLOADS = ("counterparty_etl", "counterparty_linkage", "corpus_near_dup")

# Traced calls: (module path, function, span name). Calls the program
# makes through these module attributes are traced as nested spans.
TRACED = [
    (f"{PACKAGE}.pipelines", "extract", "pipelines.extract"),
    (f"{PACKAGE}.pipelines", "transform", "pipelines.transform"),
    (f"{PACKAGE}.pipelines", "load", "pipelines.load"),
    (f"{PACKAGE}.operators.dedup", "dedup_keep_first",
     "dedup.dedup_keep_first"),
    (f"{PACKAGE}.operators.linkage", "blocked_similarity_join",
     "linkage.blocked_similarity_join"),
    (f"{PACKAGE}.operators.linkage", "transitive_clusters",
     "linkage.transitive_clusters"),
    (f"{PACKAGE}.operators.linkage", "cluster_members",
     "linkage.cluster_members"),
]


def metric_units(root: str, key: str) -> dict[str, str]:
    """Name -> unit of the ``key`` metrics (``end_to_end`` or
    ``per_layer``) that BENCHMARK.json lists, in its order."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


# ---------------------------------------------------------------------------
# running
# ---------------------------------------------------------------------------


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        raise SystemExit(f"{PACKAGE} not found under {root}; run from the "
                         "repository root")
    run_dir = os.path.join(HERE, "data", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, root)
    try:
        return _run(workload, seed, seconds, trace, scale, root, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(workload, seed, seconds, trace, scale, root, run_dir, tmp) -> dict:
    # -- set-up: import of the package and session start (the JVM) -------
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        raise SystemExit(f"{PACKAGE} imported from {pkg.__file__}, "
                         f"not from {root}")
    for mod in ("pipelines", "operators.dedup", "operators.linkage",
                "sources.readers", "sources.writers", "queries"):
        importlib.import_module(f"{PACKAGE}.{mod}")
    from pyspark_deduplication_spark.session import get_spark

    cores = _cores()
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    t_spark = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    get_spark_s = time.perf_counter() - t_spark
    setup_s = time.perf_counter() - _T0
    try:
        import workloads

        w = workloads.BY_NAME[workload]
        tracer = Tracer(spark) if trace else None
        bench = workloads.Run(spark, run_dir, tracer)
        w.generate(bench, seed, scale)
        bench.flush_inputs()
        records = bench.inputs["records"]
        if tracer:
            tracer.materialize = bench.materialize \
                if w.name == "counterparty_linkage" else None
            for mod, attr, name in TRACED:
                tracer.wrap(importlib.import_module(mod), attr, name)

        attempted = failed = 0
        pass_times: list[float] = []
        per_pass: list[dict] = []
        cold = None
        t_window = None
        while True:
            if t_window is not None and len(pass_times) >= 2 and \
                    time.perf_counter() - t_window >= seconds:
                break
            attempted += 1
            t = time.perf_counter()
            try:
                w.run_pass(bench)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            dt = time.perf_counter() - t
            totals = tracer.take_pass() if tracer else None
            if cold is None:
                cold = dt
                t_window = time.perf_counter()
            else:
                pass_times.append(dt)
                per_pass.append(totals)

        extra = {}
        if tracer:
            tracer.unwrap()
            if w.name == "counterparty_linkage" and not failed:
                extra = w.counts(bench)
            extra["session.peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)

    failures = ["a pass raised"] if failed else w.check(bench)
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(json.dumps({"workload": w.name, "seed": seed, "records": records,
                      "cold_pass_s": cold, "warm_pass_s": pass_times,
                      "jobs_per_pass": [
                          {k: v["jobs"] for k, v in p.items()}
                          for p in per_pass] if tracer else None}),
          file=sys.stderr)

    if tracer:
        units = metric_units(root, "per_layer")
        values = {"session.get_spark.wall_s": get_spark_s, **extra}
        for name in units.keys() - values.keys():
            # span quantities; the linkage counts of other workloads are 0
            span, q = name.rsplit(".", 1)
            values[name] = statistics.median(
                p.get(span, {}).get(q, 0) for p in per_pass[1:]) \
                if per_pass[1:] else 0
    else:
        units = metric_units(root, "end_to_end")
        values = {
            "setup_s": setup_s,
            "cold_pass_s": cold if cold is not None else 0.0,
            "records_per_s": records / statistics.median(pass_times[1:])
            if pass_times[1:] else 0.0,
        }
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in units.items()}
    return {"correct": not failures, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
