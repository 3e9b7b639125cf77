#!/usr/bin/env python
"""Per-query timing harness for optimization work (guide §1: measure first).

Times named queries in isolation through the noop sink inside ONE warmed
session (same warm-up path as bench.py), reporting per-rep seconds and the
median, and optionally dumping .explain("formatted") for each query.

Usage:
    python tools/qtime.py q272 q301 ... [--reps 3] [--explain plans/r14]
    python tools/qtime.py --top 20 [--reps 3]

Names may be bare prefixes ("q272"); they resolve against the registry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from database_migrator_spark.plans.registry import all_queries  # noqa: E402
from database_migrator_spark.session import get_session  # noqa: E402
from database_migrator_spark.sources import table, warm_substrates  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    explain_dir = None
    suffix = ""
    top = 0
    names: list[str] = []
    it = iter(range(len(args)))
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain_dir = Path(args[i + 1]); i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        elif a == "--top":
            top = int(args[i + 1]); i += 2
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = all_queries()
    if top:
        full = json.load(open(Path(__file__).resolve().parent.parent / "bench_full.json"))
        ranked = sorted(full["queries"].items(), key=lambda kv: -kv[1])[:top]
        names += [k for k, _ in ranked]
    resolved = []
    for n in names:
        match = [k for k in qs if k == n or k.split("_", 1)[0] == n]
        if not match:
            print(f"no query matches {n!r}", file=sys.stderr)
            sys.exit(2)
        resolved.append(match[0])

    spark = get_session("qtime")
    table(spark, sf_dir, "lineitem").count()

    # warm every session substrate, same as bench
    warm_substrates(spark, sf_dir)

    def _warm(batches):
        yield from batches

    spark.range(64).repartition(32).mapInPandas(_warm, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    import gc

    out = {}
    for name in resolved:
        dq = qs[name]
        if explain_dir:
            explain_dir.mkdir(parents=True, exist_ok=True)
            df = dq.build(spark, sf_dir)
            short = name.split("_", 1)[0]
            (explain_dir / f"{short}{suffix}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
            del df
            gc.collect()
        ts = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}#{r}")
            t0 = time.perf_counter()
            df = dq.build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            del df
            gc.collect()
        med = sorted(ts)[(len(ts) - 1) // 2]
        out[name] = {"median": med, "reps": ts}
        print(f"{name:45s} med={med:7.3f}  reps={ts}", flush=True)
    print(json.dumps({k: v["median"] for k, v in out.items()}))


if __name__ == "__main__":
    main()
