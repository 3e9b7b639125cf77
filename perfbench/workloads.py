"""The two workloads.  Each is a closed loop with one client: the next
operation starts only after the previous one returns.

A workload function runs set-up, then whole passes until ``seconds`` have
elapsed, then checks every output outside the timed region.  It returns a
``Result``; ``run.py`` turns that into metrics.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from tracing import SparkCounters, Tracer

# The query list: one oracle-bearing, benched query from each of eight
# operator modules, none of them an O(N^2)-oracle qid.  The first four
# spend their time in higher-order-function lambdas, a session substrate
# and Arrow/pandas workers; the last four in scans, shuffles, joins,
# windows and a streaming micro-batch run.
QUERIES = {
    "textops": "q191",
    "dedup": "q26",
    "similarity": "q34",
    "multimodal": "q37",
    "relational": "q07",
    "temporal": "q24",
    "skew": "q154",
    "streaming": "q41",
}
# session substrates the list reads, fitted in set-up: span -> fit function
SUBSTRATES = {
    "substrate.tf": ("database_migrator_spark.operators.textops", "doc_term_frequencies", ()),
}
CYCLES_PER_PASS = 3  # deploy+status cycles in one migrate_deploy pass: one of each tree kind
BOOTSTRAP_MIGRATIONS = 3


@dataclass
class Op:
    kind: str  # "cold", "query", "bootstrap", "bootstrap_status", "deploy" or "status"
    seconds: float
    ok: bool
    traced: bool
    name: str  # the query name, or the kind for migrate_deploy operations


@dataclass
class Pass:
    wall_s: float
    traced: bool
    layers: dict[str, float]  # per-layer totals, filled on traced passes


@dataclass
class Result:
    setup_s: float = 0.0
    setup_layers: dict[str, float] = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)
    sentinel_s: list[float] = field(default_factory=list)
    failed: int = 0
    attempted: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {err}"[:300])


def sentinel(spark) -> float:
    """A constant, data-independent probe job (range -> hash -> shuffle ->
    sum), timed before and after a run so a slow host phase reads as
    noise, not as a regression."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(1_000_000)
        .select(F.pmod(F.xxhash64("id"), F.lit(1009)).alias("k"), "id")
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


class Loop:
    """Shared pass bookkeeping: timed ops, optional tracing of whole passes."""

    def __init__(self, spark, res: Result, tracer: Tracer | None):
        self.res = res
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer else None
        self.layers: dict[str, float] = {}

    def begin_pass(self, traced: bool) -> None:
        self.layers = {}
        self.traced = traced
        if self.tracer:
            self.tracer.reset()
            self.tracer.enabled = traced
        self._t0 = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def timed(self, kind: str, fn, counter_key: str | None = None, name: str = ""):
        """Run one operation; record its latency and, when tracing, the
        Spark counters of its job group."""
        traced = bool(self.tracer and self.tracer.enabled)
        group = self.counters.tag() if traced else None
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception as e:  # noqa: BLE001  a failed op is counted, not fatal
            out, ok = None, False
            self.res.fail(kind, f"{type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        self.res.ops.append(Op(kind, dt, ok, traced, name or kind))
        if traced:
            self.add("op_s", dt)
            for k, v in self.counters.read(group).items():
                self.add(k, v)
                if counter_key and k == "spark.jobs":
                    self.add(counter_key, v)
        return out, ok

    def end_pass(self) -> None:
        wall = time.perf_counter() - self._t0
        if self.traced:
            t = self.tracer
            for name, secs in t.seconds.items():
                self.add(f"{name}_s", secs)
            self.add("sources.table_calls", t.calls.get("sources.table", 0))
            for k, v in t.counts.items():
                self.add(k, v)
            t.enabled = False
        self.res.passes.append(Pass(wall, self.traced, self.layers))


def _passes(seconds: float, trace: bool):
    """Yield ``traced`` flags for whole passes until ``seconds`` elapse.
    An untraced run makes at least two passes.  A traced run makes passes
    in untraced-traced-traced-untraced groups, so the overhead ratio
    compares like with like while the JVM is still warming."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < (4 if trace else 2) or time.perf_counter() < t_end or (trace and i % 4):
        yield trace and i % 4 in (1, 2)
        i += 1


# -- query workloads -------------------------------------------------------------


def _normalize(df) -> list[tuple]:
    """The oracle comparison rule: columns sorted by name, floats rounded
    to 6 decimals, every value stringified, rows sorted."""
    import pandas as pd

    df = df[sorted(df.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        try:
            if pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
        if isinstance(v, float):
            return f"{round(v, 6):.6f}"
        return str(v)

    return sorted(tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None))


def run_queries(spark, t_start, sf_dir, seconds, tracer) -> Result:
    import importlib

    from database_migrator_spark.plans.registry import all_queries

    res = Result()
    loop = Loop(spark, res, tracer)
    by_qid = {name.split("_", 1)[0]: dq for name, dq in all_queries().items()}
    dqs = [by_qid[q] for q in QUERIES.values()]
    if tracer:
        tracer.enabled = True
    for span, (mod, fn, args) in SUBSTRATES.items():
        t0 = time.perf_counter()
        getattr(importlib.import_module(mod), fn)(spark, sf_dir, *args)
        res.setup_layers[f"{span}_s"] = time.perf_counter() - t0

    def one_query(dq):
        t0 = time.perf_counter()
        df = dq.build(spark, sf_dir)
        loop.add("registry.build_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        loop.add("operators.exec_s", time.perf_counter() - t0)

    def one_pass() -> None:
        for dq in dqs:
            loop.timed("query", lambda dq=dq: one_query(dq), name=dq.name)

    # The first, cold pass carries per-session work (codegen, lazily fitted
    # substrates) and is charged to set-up.  It collects each result for
    # the oracle check made after the timed passes.
    outputs = {}
    for dq in dqs:
        outputs[dq.name], _ = loop.timed(
            "cold", lambda dq=dq: dq.build(spark, sf_dir).toPandas()
        )
    res.setup_s = time.perf_counter() - t_start
    if tracer:
        for name, secs in tracer.seconds.items():
            if name.startswith("substrate."):
                res.setup_layers.setdefault(f"{name}_s", secs)
    sentinel(spark)  # the first probe compiles its own code path: not a reading
    res.sentinel_s.append(sentinel(spark))
    for traced in _passes(seconds, tracer is not None):
        loop.begin_pass(traced)
        one_pass()
        loop.end_pass()
    res.sentinel_s.append(sentinel(spark))
    check_queries(sf_dir, dqs, outputs, res)
    return res


def check_queries(sf_dir, dqs, outputs, res: Result) -> None:
    """Compare each cold-pass output with the query's DuckDB oracle."""
    import duckdb

    from database_migrator_spark.sources import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for dq in dqs:
            got = outputs[dq.name]
            if got is None:  # the cold pass already counted this failure
                continue
            res.attempted += 1
            try:
                want = con.execute(dq.oracle).fetchdf()
                if sorted(got.columns) != sorted(want.columns):
                    raise AssertionError(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
                if len(got) != len(want) or _normalize(got) != _normalize(want):
                    raise AssertionError(f"{len(got)} rows differ from the oracle's {len(want)}")
            except Exception as e:  # noqa: BLE001
                res.fail(f"check {dq.name}", f"{type(e).__name__}: {e}")
    finally:
        con.close()


# -- migrate_deploy ----------------------------------------------------------------


def _quiet_log():
    import logging

    log = logging.getLogger("perfbench.migrator")
    log.disabled = True
    return log


def run_migrate(spark, t_start, work, seed, seconds, tracer) -> Result:
    from database_migrator_spark.migrator.core import Migrator

    from datagen import MigrationTree

    res = Result()
    loop = Loop(spark, res, tracer)
    tree = MigrationTree(os.path.join(work, "tree"), seed)
    db = f"perfbench_{seed}"
    migrator_log = _quiet_log()

    def migrator() -> Migrator:
        return Migrator(
            spark, db, tree.dir, schema_file=tree.schema_file, logger=migrator_log
        )

    def status() -> int:
        n = migrator().has_pending_migrations
        if n != 0:
            raise AssertionError(f"{n} migrations still pending after deploy")
        return n

    if tracer:
        tracer.enabled = True
    for _ in range(BOOTSTRAP_MIGRATIONS):
        tree.add()
    # bootstrap deploy: create the database, run the schema and every
    # migration so far — the one-time cost of a new deployment
    loop.timed("bootstrap", lambda: migrator().create_or_update_database())
    loop.timed("bootstrap_status", status)
    res.setup_s = time.perf_counter() - t_start
    sentinel(spark)  # the first probe compiles its own code path: not a reading
    res.sentinel_s.append(sentinel(spark))
    for traced in _passes(seconds, tracer is not None):
        loop.begin_pass(traced)
        for _ in range(CYCLES_PER_PASS):
            tree.add()
            loop.timed(
                "deploy",
                lambda: migrator().create_or_update_database(),
                "migrator.spark_jobs_per_deploy",
            )
            loop.timed("status", status, "migrator.spark_jobs_per_status")
        for k in ("migrator.spark_jobs_per_deploy", "migrator.spark_jobs_per_status"):
            if k in loop.layers:
                loop.layers[k] /= CYCLES_PER_PASS
        loop.end_pass()
    res.sentinel_s.append(sentinel(spark))
    check_migrate(spark, db, tree, res)
    return res


def check_migrate(spark, db, tree, res: Result) -> None:
    """The ledger holds every generated name once, every created table
    has its rows, and a fresh target sees the whole tree pending in
    numeric-or-alpha order."""
    from database_migrator_spark.migrator.core import Migrator

    from datagen import numeric_or_alpha

    res.attempted += 1
    try:
        expected = sorted(tree.names, key=numeric_or_alpha)
        fresh = Migrator(spark, f"{db}_absent", tree.dir, logger=_quiet_log())
        got = [m.name for m in fresh.pending_migrations()]
        if got != expected:
            raise AssertionError(f"pending order {got[:8]} != {expected[:8]}")
        ledger = [r[0] for r in spark.table(f"{db}.applied_migration").collect()]
        if len(ledger) != len(set(ledger)):
            raise AssertionError("duplicate ledger rows")
        if sorted(ledger, key=numeric_or_alpha) != expected:
            raise AssertionError(f"ledger has {len(ledger)} names, tree {len(tree.names)}")
        counts = spark.sql(
            " UNION ALL ".join(
                f"SELECT '{t}' AS t, COUNT(*) AS n FROM {db}.{t}" for t in tree.tables
            )
        ).collect()
        got = {r["t"]: r["n"] for r in counts}
        bad = {t: (got.get(t), n) for t, n in tree.tables.items() if got.get(t) != n}
        if bad:
            raise AssertionError(f"row counts (got, want): {dict(list(bad.items())[:5])}")
    except Exception as e:  # noqa: BLE001
        res.fail("check ledger", f"{type(e).__name__}: {e}")
