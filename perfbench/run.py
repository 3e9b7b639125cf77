#!/usr/bin/env python3
"""Benchmark for database_migrator_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads:

- ``queries``: a fixed list of eight declared queries to the noop sink,
  four LLM-data-pipeline ones (text retrieval, dedup, similarity,
  multimodal decode) and four relational ones (window, temporal, skew
  join, streaming).
- ``migrate_deploy``: each step adds one migration directory to a seeded
  tree, deploys it with ``Migrator.create_or_update_database`` against a
  Spark catalog database and its ledger, then asks
  ``has_pending_migrations``.

Inputs are generated from ``--seed`` into a scratch directory inside the
checkout, which is removed at exit.  Set-up (session start, substrate
fits, the first cold pass or the bootstrap deploy) is charged to
``setup_s``; whole passes then run for ``--seconds``; every output is
checked outside the timed region.  ``--trace 1`` wraps the program's
public layer functions from outside and reads Spark's per-job counters,
alternating untraced and traced passes.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a report
with every metric, its unit, sample counts and the effective Spark
configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEFAULT_SF = 0.02
WORKLOADS = ("queries", "migrate_deploy")

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.table_calls": "count",
    "sources.table_s": "s",
    "spark.input_mb": "MB",
    "spark.input_rows": "count",
    "registry.build_s": "s",
    **{f"substrate.{s}_s": "s" for s in ("ivf", "bpe", "pq", "cc", "gram", "tf", "daywords")},
    "operators.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "streaming.run_s": "s",
    "migrator.pending_s": "s",
    "migrator.scan_migration_s": "s",
    "migrator.spark_jobs_per_status": "count",
    "migrator.spark_jobs_per_deploy": "count",
    "ledger.exists_s": "s",
    "ledger.applied_df_s": "s",
    "ledger.record_s": "s",
    "ddl.run_ddl_script_s": "s",
    "ddl.statements": "count",
    "host.sentinel_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage": "ratio",
}


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it
    (nearest-rank), and that percentile.  Fewer than 11 samples: the
    maximum, reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100
    pct = int(100 * (n - 10) / n)
    rank = max(1, -(-pct * n // 100))  # ceil(pct/100 * n)
    return xs[rank - 1], pct


def peak_rss_mb(pid: int | str) -> float:
    """High-water resident set of one process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


# A fixed young generation: with G1's pause-driven young sizing the
# JVM's peak RSS varied by 15-30% between identical runs.
YOUNG_GEN = "-Xmn384m"


def sized_env(root: str, work: str) -> dict[str, str]:
    """Size the session to this host through the program's own environment
    variables, and keep every scratch write inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--conf "
        + shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {YOUNG_GEN}")
        + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def per_query_p50_s(res) -> dict[str, float]:
    """Median untraced latency of each query, for reading a change per query."""
    per_name: dict[str, list[float]] = {}
    for o in res.ops:
        if o.ok and not o.traced and o.kind == "query":
            per_name.setdefault(o.name, []).append(o.seconds)
    return {k: statistics.median(v) for k, v in per_name.items()}


def metrics_from(res, session_s: float, rss: float, trace: bool) -> tuple[dict, dict, dict]:
    """(contract end-to-end metrics, full end-to-end report, per-layer
    metrics) of one run.  Latencies come from untraced operations only."""
    untraced = [p for p in res.passes if not p.traced]
    by_kind: dict[str, list[float]] = {}
    for o in res.ops:
        if o.ok and not o.traced:
            by_kind.setdefault(o.kind, []).append(o.seconds)
    if "query" in by_kind:
        steps = by_kind["query"]
    else:  # one client step of migrate_deploy is a deploy plus its status call
        steps = [a + b for a, b in zip(by_kind.get("deploy", []), by_kind.get("status", []))]
    e2e = {
        "setup_s": res.setup_s,
        "wall_s": statistics.median(p.wall_s for p in untraced),
        "op_p50_s": statistics.median(steps),
        "peak_rss_mb": rss,
    }
    report = {
        "setup_s": {"value": res.setup_s, "unit": "s", "n": 1},
        "wall_s": {"value": e2e["wall_s"], "unit": "s", "n": len(untraced)},
    }
    for kind in ("query", "deploy", "status"):
        if kind in by_kind:
            xs = by_kind[kind]
            value, pct = tail(xs)
            report[f"{kind}_p50_s"] = {"value": statistics.median(xs), "unit": "s", "n": len(xs)}
            report[f"{kind}_tail_s"] = {"value": value, "unit": "s", "n": len(xs),
                                        "percentile": pct}
    report["fail_ratio"] = {"value": res.failed / res.attempted, "unit": "ratio",
                            "n": res.attempted}
    report["peak_rss_mb"] = {"value": rss, "unit": "MB", "n": 1}

    layers: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
    layers["session.start_s"] = session_s
    layers["host.sentinel_s"] = statistics.mean(res.sentinel_s)
    traced = [p for p in res.passes if p.traced]
    if trace:
        for k in LAYER_UNITS:
            vals = [p.layers.get(k, 0.0) for p in traced]
            if any(vals):
                layers[k] = statistics.median(vals)
        layers.update(res.setup_layers)
        # traced passes also pay the counter reads between operations; the
        # operation spans themselves exclude them and are compared with
        # the untraced wall
        layers["trace.overhead_ratio"] = statistics.median(p.wall_s for p in traced) / e2e["wall_s"]
        op_s = statistics.median(p.layers["op_s"] for p in traced)
        layers["trace.span_coverage"] = op_s / e2e["wall_s"]
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        layers["spark.busy_ratio"] = layers["spark.executor_run_s"] / (op_s * cpus)
    return e2e, report, layers


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="scale of the generated tables")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "database_migrator_spark", "__init__.py")):
        print("run from the root of a checkout: database_migrator_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    env = sized_env(root, work)
    os.chdir(work)  # the catalog warehouse and any relative scratch land here
    try:
        import datagen
        import workloads
        from tracing import Tracer

        sf_dir = None
        if args.workload != "migrate_deploy":
            sf_dir = datagen.write_tables(os.path.join(work, "data"), args.seed, args.sf)
        tracer = None
        if args.trace:
            from database_migrator_spark.plans.registry import all_queries

            all_queries()  # import every module so the wrappers reach all call sites
            tracer = Tracer()
            tracer.install()
        t_start = time.perf_counter()
        from database_migrator_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t_start
        if args.workload == "migrate_deploy":
            res = workloads.run_migrate(spark, t_start, work, args.seed, args.seconds, tracer)
        else:
            res = workloads.run_queries(spark, t_start, sf_dir, args.seconds, tracer)
        rss = {
            "python": peak_rss_mb("self"),
            "jvm": peak_rss_mb(spark.sparkContext._gateway.proc.pid),  # noqa: SLF001
        }
        conf = spark.sparkContext.getConf()
        confs = {
            k: conf.get(k)
            for k in ("spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
                      "spark.sql.shuffle.partitions")
        }
    finally:
        if "pyspark" in sys.modules:
            _stop()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    e2e, e2e_report, layers = metrics_from(res, session_s, sum(rss.values()), bool(args.trace))
    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = layers if args.trace else e2e
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf if sf_dir else None,
        "confs": confs,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")},
        "end_to_end": e2e_report,
        "per_query_p50_s": per_query_p50_s(res),
        "peak_rss_mb": rss,
        "sentinel_s": res.sentinel_s,
        "errors": res.errors,
    }
    if args.trace:
        report["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _stop() -> None:
    """Stop Spark, if it started, and wait for its JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
